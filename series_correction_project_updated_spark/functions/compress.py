"""Gorilla-style time-series compression (pure Python/NumPy, no deps).

Implements the two codecs from Facebook's Gorilla paper (Pelkonen et al.,
VLDB 2015, public):

* timestamps — delta-of-delta with the paper's variable-length buckets
  ('0' | '10'+7b | '110'+9b | '1110'+12b | '11110'+32b | '11111'+64b escape),
* float64 values — XOR with leading/trailing-zero window reuse
  ('0' same | '10' reuse window | '11' + 5b leading + 6b length + bits).

New code (the reference repo has no compression layer); used by the rollup
retention tiers to store points as `binary`. Encode/decode are exact
(bit-roundtrip) for any float64 incl. NaN; timestamps are int64 seconds.

Payload: ``MAGIC`` + ``<IQ`` (n points, timestamp-section bytes) + the
timestamp section + the value section, each section zero-padded to a byte
boundary.

Encoding is NumPy-vectorized: per-element variable-length codes are computed
columnar (bit_length/clz/ctz via shift cascades, delta-of-delta buckets via
masks), then scattered into one bit plane with ``np.packbits``
(``encode_chunk`` per chunk; ``encode_chunks`` for many chunks at once,
byte-identical). The one decoder, ``decode_chunks``, decodes a batch of
payloads: dod field starts come from a columnar class table by pointer
doubling, XOR fields from a run-collapsing walk, and payload bits are
gathered, sign-extended and prefix-summed in vectorized passes. It rejects a
payload whose sections do not end where their decoded fields end. The
field-at-a-time scalar decoder (``_BitReader``, ``_decode_*_scalar``) is
the reference the tests check ``decode_chunks`` against.
"""

from __future__ import annotations

import struct

import numpy as np

# Format magic. The dod classes end in '11110'+32b / '11111'+64b (a 64-bit
# escape). The earlier GOR1 stream had a single '1111'+32b top class and is
# not readable here: ``decode_chunks`` rejects its magic.
MAGIC = b"GOR2"

_U64 = np.uint64
_ONE = np.uint64(1)


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint64 (0 → 0).

    EXACT via ``np.frexp`` on the 32-bit halves: every uint32 converts to
    float64 losslessly and frexp's exponent IS the bit length (frexp(0)
    returns exponent 0, matching bit_length(0) = 0). Replaces a 6-pass
    masked binary search whose ~30 numpy calls were pure fixed overhead on
    small chunks (~70µs/call → ~4 calls). Property-tested exhaustively
    around all 64 powers of two.
    """
    hi = (x >> _U64(32)).astype(np.float64)
    lo = (x & _U64(0xFFFFFFFF)).astype(np.float64)
    _, e_hi = np.frexp(hi)
    _, e_lo = np.frexp(lo)
    return np.where(hi > 0, e_hi.astype(np.int64) + 32, e_lo.astype(np.int64))


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    return ((v << 1) ^ (v >> 63)).view(np.uint64)


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _pack_codes(codes_list, lens_list) -> bytes:
    """Scatter variable-length MSB-first codes into one bit plane.

    codes_list/lens_list: parallel lists of uint64 code arrays and their bit
    lengths (each code ≤64 bits). Each (codes, lens) pair is one contiguous
    segment of the stream, in list order; zero-length codes emit nothing.
    """
    codes = np.concatenate([np.asarray(c, dtype=np.uint64) for c in codes_list])
    lens = np.concatenate([np.asarray(l, dtype=np.int64) for l in lens_list])
    keep = lens > 0
    codes, lens = codes[keep], lens[keep]
    if len(codes) == 0:
        return b""
    # (n_codes, 64) MSB-first bit matrix in one C call; code k's emitted
    # bits are the contiguous TAIL of its row (columns [64-lens[k], 64)),
    # so a broadcast boolean mask extracts the whole plane in row-major =
    # stream order with zero index arithmetic — measured 2.2× over the
    # previous per-bit integer gather (r4; bit-identical by construction,
    # equivalence-tested). np.packbits zero-pads the final byte itself.
    bits = np.unpackbits(
        codes.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1
    )
    mask = np.arange(64, dtype=np.int64)[None, :] >= (64 - lens)[:, None]
    return np.packbits(bits[mask]).tobytes()


class _BitReader:
    """MSB-first bit reader; reads whole fields via int.from_bytes."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0  # bit position

    def read(self, bits: int) -> int:
        pos = self.pos
        start = pos >> 3
        end = (pos + bits + 7) >> 3
        chunk = int.from_bytes(self.data[start:end], "big")
        total = (end - start) * 8
        self.pos = pos + bits
        return (chunk >> (total - (pos & 7) - bits)) & ((1 << bits) - 1)


# ---------------------------------------------------------------------------
# Timestamps: delta-of-delta (fully vectorized — no sequential state)
# ---------------------------------------------------------------------------


def _dod_codes(dod: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """dod array → element-interleaved (codes, lens) of length 2·m.

    Shared by the per-chunk and batch encoders so the class decisions have
    exactly one implementation (bit-identity between the two paths is by
    construction here, then equivalence-tested end to end)."""
    m = len(dod)
    codes = np.zeros(m, dtype=np.uint64)
    lens = np.ones(m, dtype=np.int64)  # default: '0' (dod == 0)
    # Class ranges are the SIGNED range of the raw two's-complement payload
    # field: a k-bit field holds [-2^(k-1), 2^(k-1)-1]. (The Gorilla paper's
    # asymmetric [(-63,64], ... ranges assume an offset encoding; this codec
    # stores raw two's complement, and the old paper-copied masks put the
    # boundary values 64/256/2048 into a field too small for them — dod=64
    # encoded as the 7-bit sign-bit pattern and decoded as -64. Found by
    # hypothesis; boundary values now take the next class up, which the
    # unchanged decoder already handles.)
    b7 = (dod != 0) & (dod >= -64) & (dod <= 63)
    b9 = (dod != 0) & ~b7 & (dod >= -256) & (dod <= 255)
    b12 = (dod != 0) & ~b7 & ~b9 & (dod >= -2048) & (dod <= 2047)
    in32 = (dod >= -(2**31)) & (dod < 2**31)
    b32 = (dod != 0) & ~b7 & ~b9 & ~b12 & in32
    b64 = (dod != 0) & ~b7 & ~b9 & ~b12 & ~in32  # escape: full 64-bit dod
    udod = dod.view(np.uint64)
    codes[b7] = (np.uint64(0b10) << _U64(7)) | (udod[b7] & _U64(0x7F))
    lens[b7] = 9
    codes[b9] = (np.uint64(0b110) << _U64(9)) | (udod[b9] & _U64(0x1FF))
    lens[b9] = 12
    codes[b12] = (np.uint64(0b1110) << _U64(12)) | (udod[b12] & _U64(0xFFF))
    lens[b12] = 16
    codes[b32] = (np.uint64(0b11110) << _U64(32)) | (udod[b32] & _U64(0xFFFFFFFF))
    lens[b32] = 37
    # '11111' header + a separate 64-bit payload element (one element cannot
    # exceed 64 bits) — interleaved like the value stream; zero-length
    # payload entries for every other class pack to nothing
    codes[b64] = np.uint64(0b11111)
    lens[b64] = 5
    pay = np.zeros(m, dtype=np.uint64)
    pay_lens = np.zeros(m, dtype=np.int64)
    pay[b64] = udod[b64]
    pay_lens[b64] = 64
    inter_codes = np.empty(2 * m, dtype=np.uint64)
    inter_lens = np.empty(2 * m, dtype=np.int64)
    inter_codes[0::2] = codes
    inter_lens[0::2] = lens
    inter_codes[1::2] = pay
    inter_lens[1::2] = pay_lens
    return inter_codes, inter_lens


def _encode_timestamps_codes(ts: np.ndarray) -> tuple[list, list]:
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    head_codes = np.array([np.uint64(ts[0])], dtype=np.uint64)
    head_lens = np.array([64], dtype=np.int64)
    if n == 1:
        return [head_codes], [head_lens]
    deltas = np.diff(ts)
    first = np.array([_zigzag(deltas[:1])[0]], dtype=np.uint64)
    if n == 2:
        return [head_codes, first], [head_lens, np.array([64])]
    inter_codes, inter_lens = _dod_codes((deltas[1:] - deltas[:-1]).astype(np.int64))
    return [head_codes, first, inter_codes], [head_lens, np.array([64]), inter_lens]


def _decode_timestamps_scalar(r: _BitReader, n: int) -> np.ndarray:
    # int64 wraparound on the running delta is part of the format (the
    # 64-bit escape class round-trips extreme dods through two's
    # complement; vec==scalar property tests pin it) — silence the
    # scalar-add overflow warning rather than mask real errors elsewhere
    with np.errstate(over="ignore"):
        return _decode_timestamps_scalar_inner(r, n)


def _decode_timestamps_scalar_inner(r: _BitReader, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    first = r.read(64)
    if first >= 1 << 63:
        first -= 1 << 64
    out[0] = first
    if n == 1:
        return out
    # delta accumulates in int64 WITH WRAPAROUND, mirroring the vectorized
    # decoder — as a raw python int it can exceed the int64 range and blow
    # the C-long conversion on assignment (hypothesis-found: consecutive
    # escape-class dods of magnitude ~2^63)
    delta = np.int64(_unzigzag(r.read(64)))
    out[1] = out[0] + delta
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:
                bits, dod = 7, r.read(7)
            elif r.read(1) == 0:
                bits, dod = 9, r.read(9)
            elif r.read(1) == 0:
                bits, dod = 12, r.read(12)
            elif r.read(1) == 0:
                bits, dod = 32, r.read(32)
            else:
                bits, dod = 64, r.read(64)  # escape class: raw 64-bit dod
            if dod >= 1 << (bits - 1):
                dod -= 1 << bits
        delta = delta + np.int64(dod)
        out[i] = out[i - 1] + delta
    return out


# ---------------------------------------------------------------------------
# Values: XOR with leading/trailing window reuse
# ---------------------------------------------------------------------------


def _fill_value_windows(
    hdr: np.ndarray,
    hdr_len: np.ndarray,
    pay: np.ndarray,
    pay_len: np.ndarray,
    nz: np.ndarray,
    lead_nz: np.ndarray,
    trail_nz: np.ndarray,
    x_nz: np.ndarray,
    lo: int,
    hi: int,
) -> None:
    """Window-reuse state scan over nz positions [lo, hi), vectorized per
    window SEGMENT (the state (prev_lead, prev_len) only changes at a
    violation — ``lead < L or trail < T`` — so each window is a
    find-first-violation scan over the non-zero-xor subsequence, then one
    vectorized fill for the reused run; same grow-block pattern as the
    kernel's CUSUM scan). Decisions and emitted bits are IDENTICAL to the
    original per-element loop (property-tested against it): first non-zero
    opens a window; reuse while le ≥ prev_lead and tr ≥ prev_trail.

    Shared by the per-chunk encoder (lo=0, hi=len(nz)) and the batch
    encoder (one [lo, hi) nz-range per chunk — window state never crosses
    a chunk boundary). Writes into hdr/pay at the global element indices
    held in ``nz``."""
    pos = lo
    while pos < hi:
        le = int(lead_nz[pos])
        tr = int(trail_nz[pos])
        length = 64 - le - tr
        i0 = nz[pos]
        hdr[i0] = (0b11 << 11) | (le << 6) | (length - 1)
        hdr_len[i0] = 13
        pay[i0] = x_nz[pos] >> np.uint64(tr)
        pay_len[i0] = length
        # scan forward for the first violation in exponentially growing
        # blocks (bounds the wasted scan when windows change often)
        end = hi
        s = pos + 1
        block = 64
        while s < end:
            e = min(s + block, hi)
            viol = (lead_nz[s:e] < le) | (trail_nz[s:e] < tr)
            j = int(viol.argmax()) if e > s else 0
            if e > s and viol[j]:
                end = s + j
                break
            s = e
            block <<= 1
        seg = slice(pos + 1, end)
        idx = nz[seg]
        hdr[idx] = 0b10
        hdr_len[idx] = 2
        pay[idx] = x_nz[seg] >> np.uint64(tr)
        pay_len[idx] = length
        pos = end


def _encode_values_codes(values: np.ndarray) -> tuple[list, list]:
    bits = np.asarray(values, dtype=np.float64).view(np.uint64)
    n = len(bits)
    head = np.array([bits[0]], dtype=np.uint64)
    head_len = np.array([64], dtype=np.int64)
    if n == 1:
        return [head], [head_len]
    xors = bits[1:] ^ bits[:-1]
    m = len(xors)
    bl = _bit_length_u64(xors)
    lead = np.minimum(64 - bl, 31)  # clamp to 5-bit field
    low = xors & (~xors + _ONE)  # lowest set bit
    trail = _bit_length_u64(low) - 1  # -1 for xor==0 (unused)

    hdr = np.zeros(m, dtype=np.uint64)
    hdr_len = np.ones(m, dtype=np.int64)  # '0' for xor == 0
    pay = np.zeros(m, dtype=np.uint64)
    pay_len = np.zeros(m, dtype=np.int64)
    nz = np.flatnonzero(xors)
    _fill_value_windows(
        hdr, hdr_len, pay, pay_len, nz, lead[nz], trail[nz], xors[nz], 0, len(nz)
    )

    # interleave header/payload per element into one code stream:
    # hdr_len ≤ 13, pay_len ≤ 64 → may exceed 64 bits combined, so emit as
    # two consecutive segments per element via element-interleaved layout.
    codes = np.empty(2 * m, dtype=np.uint64)
    lens = np.empty(2 * m, dtype=np.int64)
    codes[0::2] = hdr
    lens[0::2] = hdr_len
    codes[1::2] = pay
    lens[1::2] = pay_len
    return [head, codes], [head_len, lens]


def _decode_values_scalar(r: _BitReader, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.uint64)
    prev = r.read(64)
    out[0] = prev
    lead, length = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 0:  # reuse window
            x = r.read(length) << (64 - lead - length)
        else:
            lead = r.read(5)
            length = r.read(6) + 1
            x = r.read(length) << (64 - lead - length)
        prev ^= x
        out[i] = prev
    return out.view(np.float64)


# ---------------------------------------------------------------------------
# Block decode helpers (``decode_chunks``)
# ---------------------------------------------------------------------------


def _gather_fields(buf: np.ndarray, pos: np.ndarray, length: np.ndarray) -> np.ndarray:
    """Vectorized unaligned bit-field read: for each (pos, 1 ≤ length ≤ 64)
    return the MSB-first ``length``-bit value starting at bit ``pos``.

    One fancy-indexed gather of 8 bytes per field viewed as big-endian
    uint64, plus the following byte to cover the worst-case 7-bit skew —
    the vector inverse of ``_pack_codes``'s scatter.  ``buf`` must carry
    ≥9 padding bytes past the last addressed field (``_padded_buf``).
    """
    b = (pos >> 3).astype(np.int64)
    o = (pos & 7).astype(np.uint64)
    v1 = buf[b[:, None] + np.arange(8)].view(">u8").ravel().astype(np.uint64)
    v2 = buf[b + 8].astype(np.uint64)
    full = (v1 << o) | (v2 >> (np.uint64(8) - o))  # o=0 → v2>>8 == 0
    return full >> (np.uint64(64) - length.astype(np.uint64))


def _padded_buf(data: bytes) -> np.ndarray:
    """``data`` plus 24 zero bytes: a chunk's 16 bytes of head and first
    delta are gathered before its section length is checked, so a
    truncated last section still reads inside the buffer."""
    return np.concatenate([np.frombuffer(data, dtype=np.uint8), np.zeros(24, np.uint8)])


def _bits_val(bits: np.ndarray, pos: int, width: int) -> int:
    """Scalar ≤64-bit read from the unpacked bit plane (cold path: only
    window headers, a handful per run)."""
    v = 0
    for j in range(width):
        v = (v << 1) | int(bits[pos + j])
    return v


def _zero_run(bits: np.ndarray, pos: int, cap: int) -> int:
    """Length of the run of 0-bits starting at ``pos``, capped — counts
    consecutive 1-bit '0' fields in one vectorized scan (growing blocks).
    The first few bits are peeked scalar: gap-y tiers produce many short
    zero runs where one argmax-slice scan costs more than the run."""
    count = 0
    while count < min(cap, 8):
        if bits[pos + count]:
            return count
        count += 1
    block = 256
    while count < cap:
        e = min(count + block, cap)
        seg = bits[pos + count : pos + e]
        j = int(seg.argmax())  # first 1, or 0 if all-zero
        if seg[j]:
            return count + j
        count = e
        block <<= 1
    return cap


def _stride_run(bits: np.ndarray, pos: int, stride: int, cap: int) -> int:
    """Count consecutive fixed-``stride`` '10'+payload window-reuse fields
    starting at ``pos``. The first field is known-valid; candidates are
    checked in vectorized growing blocks (start positions are arithmetic
    while the run holds). Candidates past the padded bit plane can't exist
    (padding bits are 0, so they'd fail the '1' check anyway) — clamp to
    stay indexable."""
    cap = min(cap, (len(bits) - 2 - pos) // stride + 1)
    # scalar peek at candidates 2..5: short runs exit numpy-free; one
    # vectorized block check (~26µs: arange+flatnonzero) costs more than a
    # length-1..3 run decodes for — four ~1µs scalar probes are the
    # break-even.
    count = 1
    while count < min(cap, 5):
        q = pos + stride * count
        if not bits[q] or bits[q + 1]:
            return count
        count += 1
    block = 64
    while count < cap:
        e = min(count + block, cap)
        qs = pos + stride * np.arange(count, e, dtype=np.int64)
        bad = np.flatnonzero((bits[qs] == 0) | (bits[qs + 1] == 1))
        if len(bad):
            return count + int(bad[0])
        count = e
        block <<= 1
    return cap


def _sign_extend(raw: np.ndarray, bits: int) -> np.ndarray:
    if bits == 64:
        return raw.view(np.int64)
    out = raw.astype(np.int64)
    return np.where(out >= 1 << (bits - 1), out - (1 << bits), out)


def _intra(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated — the arange-minus-repeat trick."""
    total = int(counts.sum())
    return np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)


def _expand_runs(runs: list):
    """Expand recorded (idx, count, pos0, stride, pay, shift) runs into
    flat per-field (dst, pos, len, shift) arrays — the repeat/cumsum
    trick, so payloads for ALL runs gather in one pass regardless of how
    short individual runs were."""
    cols = list(zip(*runs))
    cnts = np.array(cols[1], dtype=np.int64)

    def rep(vals):
        return np.repeat(np.array(vals, dtype=np.int64), cnts)

    intra = _intra(cnts)
    return rep(cols[0]) + intra, rep(cols[2]) + rep(cols[3]) * intra, rep(cols[4]), rep(cols[5])


#: dod field class (count of leading 1-bits, 0..5) → header bits, payload
#: bits, total field bits; class 0 is the 1-bit '0' field (dod == 0)
_CLS_HDR = np.array([0, 2, 3, 4, 5, 5], dtype=np.int64)
_CLS_PAY = np.array([0, 7, 9, 12, 32, 64], dtype=np.int64)
_CLS_LEN = np.array([1, 9, 12, 16, 37, 69], dtype=np.int64)


# ---------------------------------------------------------------------------
# Chunk container
# ---------------------------------------------------------------------------


def encode_chunk(ts: np.ndarray, values: np.ndarray) -> bytes:
    """(int64 seconds, float64 values) → self-describing binary payload.

    Validation raises (never ``assert`` — stripped under ``python -O``,
    and executors may run optimized). n=0 encodes to a bare header that
    ``decode_chunks`` round-trips to empty arrays."""
    if len(ts) != len(values):
        raise ValueError(f"length mismatch: {len(ts)} timestamps vs {len(values)} values")
    if len(ts) == 0:
        return MAGIC + struct.pack("<IQ", 0, 0)
    t_codes, t_lens = _encode_timestamps_codes(np.asarray(ts))
    tbytes = _pack_codes(t_codes, t_lens)
    v_codes, v_lens = _encode_values_codes(np.asarray(values))
    vbytes = _pack_codes(v_codes, v_lens)
    header = MAGIC + struct.pack("<IQ", len(ts), len(tbytes))
    return header + tbytes + vbytes


def encode_chunks(ts: np.ndarray, values: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """Batch ``encode_chunk`` over k chunks stored FLAT with boundary
    offsets (chunk c is ``[offsets[c], offsets[c+1])``) — byte-identical
    payload per chunk (equivalence- and hypothesis-tested).

    Why this exists: ``encode_chunk``'s cost at tier-sized chunks is fixed
    per-chunk numpy-call overhead, not arithmetic — measured 393k pts/s
    per thread at 240-point chunks vs 1.14M at 2400-point. Here every
    elementwise pass (delta/dod classes, XOR lead/trail) runs ONCE over
    the flat arrays with inter-chunk positions masked out, and ALL chunks'
    variable-length codes are packed in a single bit-plane pass: each
    chunk's timestamp and value sections are padded to a byte boundary
    in-stream — exactly the zero padding ``np.packbits`` adds per section
    when a chunk is packed alone — so slicing the one global byte buffer
    reproduces each per-chunk buffer byte-for-byte. The only per-chunk
    work left is the value window-reuse scan (sequential by construction;
    the helper is SHARED with ``encode_chunk``, so decisions cannot
    diverge) and slice assembly. Same flat-array+offsets pattern as the
    quantile digest compression (operators/quantile)."""
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    values = np.ascontiguousarray(values, dtype=np.float64)
    offsets = np.asarray(offsets, dtype=np.int64)
    n_total = len(ts)
    if len(values) != n_total:
        raise ValueError(f"length mismatch: {n_total} timestamps vs {len(values)} values")
    k = len(offsets) - 1
    if k < 0 or offsets[0] != 0 or offsets[-1] != n_total or (np.diff(offsets) < 0).any():
        raise ValueError("offsets must be monotone with offsets[0]=0, offsets[-1]=len(ts)")
    ns = np.diff(offsets)
    starts = offsets[:-1]
    nonempty = ns > 0
    cid = np.repeat(np.arange(k, dtype=np.int64), ns)

    # --- timestamp sections: head (64b) + zigzag first delta (64b, n≥2)
    # + interleaved dod class codes (n≥3). dod positions are valid only
    # where three consecutive flat elements share a chunk.
    heads_t = np.zeros(k, dtype=np.uint64)
    heads_t[nonempty] = ts[starts[nonempty]].view(np.uint64)
    firsts = np.zeros(k, dtype=np.uint64)
    has2 = ns >= 2
    if has2.any():
        s2 = starts[has2]
        firsts[has2] = _zigzag(ts[s2 + 1] - ts[s2])
    m_per = np.maximum(ns - 2, 0)
    im = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(m_per, out=im[1:])
    m_dod = int(im[-1])
    if m_dod:
        d = ts[1:] - ts[:-1]  # cross-chunk positions masked out below
        dodv = cid[2:] == cid[:-2]
        it_codes, it_lens = _dod_codes((d[1:] - d[:-1])[dodv].astype(np.int64))
    else:
        it_codes = np.empty(0, dtype=np.uint64)
        it_lens = np.empty(0, dtype=np.int64)
    it_cs = np.zeros(2 * m_dod + 1, dtype=np.int64)
    np.cumsum(it_lens, out=it_cs[1:])
    t_bits = 64 * nonempty + 64 * has2 + (it_cs[2 * im[1:]] - it_cs[2 * im[:-1]])
    t_pad = (-t_bits) % 8
    tbytes_len = (t_bits + t_pad) // 8

    # --- value sections: head (64b) + interleaved XOR hdr/payload codes.
    # Window state resets per chunk: one _fill_value_windows range each.
    x_per = np.maximum(ns - 1, 0)
    xm = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(x_per, out=xm[1:])
    m_x = int(xm[-1])
    vb = values.view(np.uint64)
    heads_v = np.zeros(k, dtype=np.uint64)
    heads_v[nonempty] = vb[starts[nonempty]]
    if m_x:
        xors = (vb[1:] ^ vb[:-1])[cid[1:] == cid[:-1]]
        bl = _bit_length_u64(xors)
        lead = np.minimum(64 - bl, 31)
        trail = _bit_length_u64(xors & (~xors + _ONE)) - 1
        vhdr = np.zeros(m_x, dtype=np.uint64)
        vhdr_len = np.ones(m_x, dtype=np.int64)
        vpay = np.zeros(m_x, dtype=np.uint64)
        vpay_len = np.zeros(m_x, dtype=np.int64)
        nz = np.flatnonzero(xors)
        lead_nz, trail_nz, x_nz = lead[nz], trail[nz], xors[nz]
        nzoff = np.searchsorted(nz, xm)
        for c in range(k):
            lo, hi = int(nzoff[c]), int(nzoff[c + 1])
            if lo < hi:
                _fill_value_windows(
                    vhdr, vhdr_len, vpay, vpay_len, nz, lead_nz, trail_nz, x_nz, lo, hi
                )
        iv_codes = np.empty(2 * m_x, dtype=np.uint64)
        iv_lens = np.empty(2 * m_x, dtype=np.int64)
        iv_codes[0::2] = vhdr
        iv_lens[0::2] = vhdr_len
        iv_codes[1::2] = vpay
        iv_lens[1::2] = vpay_len
    else:
        iv_codes = np.empty(0, dtype=np.uint64)
        iv_lens = np.empty(0, dtype=np.int64)
    iv_cs = np.zeros(2 * m_x + 1, dtype=np.int64)
    np.cumsum(iv_lens, out=iv_cs[1:])
    v_bits = 64 * nonempty + (iv_cs[2 * xm[1:]] - iv_cs[2 * xm[:-1]])
    v_pad = (-v_bits) % 8
    vbytes_len = (v_bits + v_pad) // 8

    # --- pack chunk-ordered segments with in-stream pads, in groups of
    # ~PACK_BLOCK codes: one giant pack call builds >8-byte-per-code
    # intermediates (bit matrix + mask) that fall out of cache and run
    # ~3× slower per point than the per-chunk calls it replaced; group
    # boundaries sit between chunks, which end byte-aligned, so the
    # grouped packs concatenate to the identical stream.
    PACK_BLOCK = 32768
    zpad = np.zeros(1, dtype=np.uint64)
    one64 = np.array([64], dtype=np.int64)
    parts: list[bytes] = []
    segs_c: list = []
    segs_l: list = []
    pending = 0
    ns_l = ns.tolist()
    tpad_l = t_pad.tolist()
    vpad_l = v_pad.tolist()
    for c in range(k):
        n = ns_l[c]
        if n == 0:
            continue
        segs_c.append(heads_t[c : c + 1])
        segs_l.append(one64)
        if n >= 2:
            segs_c.append(firsts[c : c + 1])
            segs_l.append(one64)
            if n >= 3:
                segs_c.append(it_codes[2 * im[c] : 2 * im[c + 1]])
                segs_l.append(it_lens[2 * im[c] : 2 * im[c + 1]])
        segs_c.append(zpad)
        segs_l.append(np.array([tpad_l[c]], dtype=np.int64))
        segs_c.append(heads_v[c : c + 1])
        segs_l.append(one64)
        if n >= 2:
            segs_c.append(iv_codes[2 * xm[c] : 2 * xm[c + 1]])
            segs_l.append(iv_lens[2 * xm[c] : 2 * xm[c + 1]])
        segs_c.append(zpad)
        segs_l.append(np.array([vpad_l[c]], dtype=np.int64))
        pending += 4 + 3 * n  # upper bound on codes added for this chunk
        if pending >= PACK_BLOCK:
            parts.append(_pack_codes(segs_c, segs_l))
            segs_c, segs_l, pending = [], [], 0
    if segs_c:
        parts.append(_pack_codes(segs_c, segs_l))
    buf = b"".join(parts)

    out: list[bytes] = []
    bo = 0
    tb_l = tbytes_len.tolist()
    vbl_l = vbytes_len.tolist()
    empty_hdr = MAGIC + struct.pack("<IQ", 0, 0)
    for c in range(k):
        n = ns_l[c]
        if n == 0:
            out.append(empty_hdr)
            continue
        size = tb_l[c] + vbl_l[c]
        out.append(MAGIC + struct.pack("<IQ", n, tb_l[c]) + buf[bo : bo + size])
        bo += size
    return out


def _check_section_ends(what: str, ends: np.ndarray, nbytes: np.ndarray, chunks: np.ndarray) -> None:
    """Raise unless every section's last decoded field ends in the
    section's last byte — bit ``[8·L − 7, 8·L]`` of its L bytes, since the
    encoder zero-pads a section only up to the byte boundary. A truncated
    or overlong section, or a wrong ``tlen``, moves that end."""
    bad = np.flatnonzero((ends > 8 * nbytes) | (ends < 8 * nbytes - 7))
    if len(bad):
        j = bad[0]
        raise ValueError(
            f"malformed Gorilla chunk {chunks[j]}: its {what} fields end at bit "
            f"{ends[j]}, but its {what} section holds {nbytes[j]} bytes"
        )


def decode_chunks(payloads) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode a sequence of payloads → flat ``(timestamps, values,
    offsets)`` with chunk c occupying ``[offsets[c], offsets[c+1])`` —
    bit-identical to the scalar reference decoder (adversarial +
    hypothesis suites).

    The dod stream is decoded with NO sequential walk (a field walk is
    bound by its iteration count: gap-y rollup tiers emit a ±dod class
    pair per missing bucket):

    1. every chunk's timestamp section concatenates into ONE bit plane
       (sections are byte-aligned, so positions are exact);
    2. a class table is built columnar over the whole plane — ``cls_at[p]``
       / ``len_at[p]`` = the field class/length IF a field started at bit
       p;
    3. all field start positions materialize by POINTER DOUBLING on the
       jump array ``J[p] = p + len_at[p]``: level k emits fields
       [2^k, 2^{k+1}) of every chunk from the already-known first 2^k via
       one gather through the 2^k-step jump table (``J = J[J]`` per
       level) — ceil(log2(max fields/chunk)) vectorized passes, hostile
       streams cost the same as regular ones;
    4. payloads for ALL chunks gather in one ``_gather_fields`` pass and
       timestamps rebuild with segmented (boundary-subtracted) cumsums.

    The value sections are walked run by run per chunk (field length
    depends on live window state, so no position-indexed table exists): a
    run of '0' fields is one vectorized zero-scan, a run of '10' reuse
    fields has arithmetic starts checked in one vectorized pass, and only
    '11' window headers are read field by field. All chunks' runs
    accumulate into ONE list → one ``_expand_runs`` + one gather + one
    segmented ``bitwise_xor.accumulate`` (the per-chunk correction term
    is the accumulated value at each chunk's last predecessor position).

    Raises ``ValueError`` for a wrong magic, and one naming the chunk
    index for a header that does not fit the payload or a section whose
    decoded fields do not end in its last byte (``_check_section_ends``). A wrong ``n`` that
    the zero padding absorbs is not detectable."""
    k = len(payloads)
    ns = np.zeros(k, dtype=np.int64)
    tlens = np.zeros(k, dtype=np.int64)
    vlens = np.zeros(k, dtype=np.int64)
    for c, p in enumerate(payloads):
        magic = p[:4]
        if magic != MAGIC:
            raise ValueError(f"not a Gorilla chunk (magic {magic!r})")
        if len(p) < 16:
            raise ValueError(f"malformed Gorilla chunk {c}: {len(p)} bytes, shorter than its header")
        n, tlen = struct.unpack("<IQ", p[4:16])
        # every point takes ≥1 bit of each section, so n > 8·len(p) is
        # never valid (the bound also keeps a corrupt n from sizing the
        # output); an empty chunk is its bare header
        if 16 + tlen > len(p) or n > 8 * len(p) or (n == 0 and len(p) > 16):
            raise ValueError(
                f"malformed Gorilla chunk {c}: header (n={n}, tlen={tlen}) "
                f"does not fit its {len(p)} bytes"
            )
        ns[c], tlens[c], vlens[c] = n, tlen, len(p) - 16 - tlen
    offsets = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(ns, out=offsets[1:])
    n_total = int(offsets[-1])
    ts_out = np.empty(n_total, dtype=np.int64)
    val_out = np.empty(n_total, dtype=np.float64)
    bi = np.flatnonzero(ns > 0)
    if len(bi) == 0:
        return ts_out, val_out, offsets

    ns_b = ns[bi]
    tlens_b = tlens[bi]
    vlens_b = vlens[bi]
    kb = len(bi)
    ob = offsets[bi]  # output start per non-empty chunk

    # --- timestamp plane -------------------------------------------------
    ts_buf = _padded_buf(b"".join(bytes(payloads[c][16 : 16 + tlens[c]]) for c in bi))
    tb_off = np.zeros(kb, dtype=np.int64)
    np.cumsum(tlens_b[:-1] * 8, out=tb_off[1:])
    full64 = np.full(kb, 64, dtype=np.int64)
    heads = _sign_extend(_gather_fields(ts_buf, tb_off, full64), 64)
    firstd = np.zeros(kb, dtype=np.int64)
    n2 = ns_b >= 2
    if n2.any():
        zz = _gather_fields(ts_buf, tb_off[n2] + 64, full64[n2])
        firstd[n2] = (zz >> _ONE).astype(np.int64) ^ -(zz & _ONE).astype(np.int64)
    t_end = np.where(n2, 128, 64)  # bit where each section's last field ends

    m_per = np.maximum(ns_b - 2, 0)
    M = int(m_per.sum())
    im = np.zeros(kb + 1, dtype=np.int64)
    np.cumsum(m_per, out=im[1:])
    dod = np.zeros(M, dtype=np.int64)
    if M:
        bits = np.unpackbits(ts_buf)
        nb = len(bits)
        idt = np.int32 if nb + 70 < np.iinfo(np.int32).max else np.int64
        pad = np.concatenate([bits, np.zeros(5, np.uint8)])
        o0, o1, o2, o3, o4 = (pad[j : j + nb] for j in range(5))
        p01 = o0 * o1
        p012 = p01 * o2
        cls_at = o0 + p01 + p012 + p012 * o3 + p012 * o3 * o4  # uint8, 0..5
        jump = np.arange(nb, dtype=idt)
        jump += _CLS_LEN.astype(idt)[cls_at]
        np.minimum(jump, nb - 1, out=jump)  # clamp garbage chains in-bounds
        starts = np.empty(M, dtype=idt)
        has = m_per > 0
        starts[im[:-1][has]] = (tb_off[has] + 128).astype(idt)
        filled = np.minimum(m_per, 1)
        while True:
            todo = m_per - filled
            if not todo.any():
                break
            t = np.minimum(filled, todo)
            src = np.repeat(im[:-1], t) + _intra(t)
            starts[src + np.repeat(filled, t)] = jump[starts[src]]
            filled = filled + t
            if (m_per - filled).any():
                jump = jump[jump]  # double the stride for the next level
        cls = cls_at[starts]
        last = im[1:][has] - 1
        t_end[has] = starts[last] + _CLS_LEN[cls[last]] - tb_off[has]
        nzf = np.flatnonzero(cls)
        if len(nzf):
            cl = cls[nzf].astype(np.int64)
            raw = _gather_fields(
                ts_buf, starts[nzf].astype(np.int64) + _CLS_HDR[cl], _CLS_PAY[cl]
            )
            for c in range(1, 6):
                sel = cl == c
                if sel.any():
                    dod[nzf[sel]] = _sign_extend(raw[sel], int(_CLS_PAY[c]))
    _check_section_ends("timestamp", t_end, tlens_b, bi)

    # segmented double cumsum: dod → deltas → timestamps, per chunk, via
    # boundary subtraction (int64 wrap-around is modular, so global
    # cumsums minus the chunk-start prefix equal per-chunk cumsums bit
    # for bit — the same wrap semantics as the scalar decoder)
    dcnt = ns_b - 1  # ≥0; deltas per chunk
    D = int(dcnt.sum())
    doff = np.zeros(kb + 1, dtype=np.int64)
    np.cumsum(dcnt, out=doff[1:])
    S = np.zeros(M + 1, dtype=np.int64)
    np.cumsum(dod, out=S[1:])
    cum_within = S[1:] - np.repeat(S[im[:-1]], m_per)
    deltas = np.repeat(firstd, dcnt)
    intra_d = _intra(dcnt)
    deltas[intra_d > 0] += cum_within
    T = np.zeros(D + 1, dtype=np.int64)
    np.cumsum(deltas, out=T[1:])
    ts_within = (T[1:] - np.repeat(T[doff[:-1]], dcnt)) + np.repeat(heads, dcnt)
    ts_out[ob] = heads
    ts_out[np.repeat(ob + 1, dcnt) + intra_d] = ts_within

    # --- value plane ------------------------------------------------------
    v_buf = _padded_buf(b"".join(bytes(payloads[c][16 + tlens[c] :]) for c in bi))
    vb_off = np.zeros(kb, dtype=np.int64)
    np.cumsum(vlens_b[:-1] * 8, out=vb_off[1:])
    v_heads = _gather_fields(v_buf, vb_off, full64)
    xcnt = ns_b - 1
    X = int(xcnt.sum())
    xm = np.zeros(kb + 1, dtype=np.int64)
    np.cumsum(xcnt, out=xm[1:])
    xors = np.zeros(X, dtype=np.uint64)
    v_end = full64.copy()
    if X:
        bits_v = np.unpackbits(v_buf)
        runs = []  # (global_field_idx, count, payload_pos0, stride, pay_bits, lshift)
        xm_l = xm.tolist()
        vb_l = vb_off.tolist()
        xc_l = xcnt.tolist()
        vl_l = vlens_b.tolist()
        for c in range(kb):
            m = xc_l[c]
            pos = vb_l[c] + 64
            limit = vb_l[c] + 8 * vl_l[c]  # no field starts past the section
            base = xm_l[c]
            i = 0
            lead = length = 0
            while i < m and pos < limit:
                if bits_v[pos] == 0:
                    z = _zero_run(bits_v, pos, min(m - i, limit - pos))
                    pos += z
                    i += z
                    continue
                if bits_v[pos + 1]:  # '11' — new window header
                    lead = _bits_val(bits_v, pos + 2, 5)
                    length = _bits_val(bits_v, pos + 7, 6) + 1
                    runs.append((base + i, 1, pos + 13, 0, length, 64 - lead - length))
                    pos += 13 + length
                    i += 1
                    continue
                stride = 2 + length
                cnt = _stride_run(bits_v, pos, stride, m - i)
                runs.append((base + i, cnt, pos + 2, stride, length, 64 - lead - length))
                pos += stride * cnt
                i += cnt
            v_end[c] = pos - vb_l[c] + (m - i)  # each field left takes ≥1 bit
        if runs:
            dst, ps, lens, shf = _expand_runs(runs)
            raw = _gather_fields(v_buf, ps, lens)
            xors[dst] = raw << shf.astype(np.uint64)
    _check_section_ends("value", v_end, vlens_b, bi)
    # segmented XOR accumulate: place each chunk head at its first slot,
    # run ONE global accumulate, then cancel the cross-chunk prefix by
    # XORing every chunk with the accumulated value just before its start
    nbt = int(ns_b.sum())
    boff = np.zeros(kb + 1, dtype=np.int64)
    np.cumsum(ns_b, out=boff[1:])
    A = np.zeros(nbt, dtype=np.uint64)
    A[boff[:-1]] = v_heads
    if X:
        A[np.repeat(boff[:-1] + 1, xcnt) + _intra(xcnt)] = xors
    G = np.bitwise_xor.accumulate(A)
    corr = np.zeros(kb, dtype=np.uint64)
    nz0 = boff[:-1] > 0
    corr[nz0] = G[boff[:-1][nz0] - 1]
    vals_b = (G ^ np.repeat(corr, ns_b)).view(np.float64)
    val_out[np.repeat(ob, ns_b) + _intra(ns_b)] = vals_b
    return ts_out, val_out, offsets

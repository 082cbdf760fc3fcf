"""Bit-exact roundtrip tests for the Gorilla/delta-of-delta codec."""

import numpy as np
import pytest

from series_correction_project_updated_spark.functions import compress as codec
from series_correction_project_updated_spark.functions.compress import (
    decode_chunks,
    encode_chunk,
)


@pytest.mark.parametrize("n", [1, 2, 3, 100, 1000])
def test_roundtrip_regular(n):
    ts = np.arange(n, dtype=np.int64) * 60 + 1_577_836_800
    vals = np.sin(np.arange(n) / 5.0) * 100 + 3.0
    payload = encode_chunk(ts, vals)
    ts2, vals2, _ = decode_chunks([payload])
    np.testing.assert_array_equal(ts, ts2)
    np.testing.assert_array_equal(vals.view(np.uint64), vals2.view(np.uint64))


def test_roundtrip_irregular_and_nan():
    rng = np.random.default_rng(42)
    ts = np.cumsum(rng.integers(1, 100000, 500)).astype(np.int64)
    vals = rng.normal(0, 1e6, 500)
    vals[::37] = np.nan
    vals[::53] = 0.0
    vals[7] = np.inf
    vals[11] = -np.inf
    payload = encode_chunk(ts, vals)
    ts2, vals2, _ = decode_chunks([payload])
    np.testing.assert_array_equal(ts, ts2)
    np.testing.assert_array_equal(vals.view(np.uint64), vals2.view(np.uint64))


def test_roundtrip_constant_values():
    ts = np.arange(100, dtype=np.int64) * 3600
    vals = np.full(100, 42.5)
    payload = encode_chunk(ts, vals)
    ts2, vals2, _ = decode_chunks([payload])
    np.testing.assert_array_equal(vals, vals2)
    # constants compress to ~1 bit/point after the first
    assert len(payload) < 16 + 8 + 8 + 8 + 100 // 8 + 24


def test_compression_ratio_on_regular_rollup():
    # regular 60s buckets, smooth values: must beat 4 bytes/point easily
    n = 10_000
    ts = np.arange(n, dtype=np.int64) * 60
    vals = np.round(np.sin(np.arange(n) / 50.0) * 10 + 100, 2)
    payload = encode_chunk(ts, vals)
    assert len(payload) / n < 8.0  # vs 16 bytes raw (ts+value)

def test_negative_timestamps_and_deltas():
    ts = np.array([-1000, -500, -499, 0, 1, 1000000], dtype=np.int64)
    vals = np.array([1.5, -2.5, 3.5, -4.5, 5.5, 0.0])
    ts2, vals2, _ = decode_chunks([encode_chunk(ts, vals)])
    np.testing.assert_array_equal(ts, ts2)
    np.testing.assert_array_equal(vals, vals2)


def test_v2_payloads_carry_new_magic():
    payload = encode_chunk(np.array([0, 60], dtype=np.int64), np.array([1.0, 2.0]))
    assert payload[:4] == b"GOR2"


def test_dod_class_boundaries_roundtrip_exact():
    """Regression (hypothesis find, r3): dod values at every class boundary
    must roundtrip. The old paper-copied masks put +64/+256/+2048 into a
    two's-complement field too small for them (dod=64 -> 7-bit sign-bit
    pattern -> decoded -64); a k-bit raw field holds [-2^(k-1), 2^(k-1)-1]."""
    import numpy as np

    from series_correction_project_updated_spark.functions import compress as codec

    for d in (
        0, 1, -1, 63, 64, 65, -63, -64, -65, 255, 256, 257, -255, -256, -257,
        2047, 2048, 2049, -2047, -2048, -2049, 2**31 - 1, 2**31, -(2**31), -(2**31) - 1,
    ):
        ts = np.array([0, 100, 200 + d + 100], dtype=np.int64)
        vals = np.array([1.0, 2.0, 3.0])
        t2, v2, _ = codec.decode_chunks([codec.encode_chunk(ts, vals)])
        assert (t2 == ts).all(), (d, t2.tolist())
        assert (v2 == vals).all()


def test_encode_chunks_matches_per_chunk_adversarial():
    """encode_chunks (batch, flat+offsets) must be BYTE-identical to
    encode_chunk per chunk — including empty chunks, n=1/2/3 specials,
    NaN/inf/-0.0 values, negative and wrapping timestamps, 64-bit dod
    escapes, constant runs, and chunk-boundary adjacency (the masked
    flat-array math must never leak deltas/xors across chunks)."""
    rng = np.random.default_rng(1234)
    chunks = [
        (np.empty(0, np.int64), np.empty(0, np.float64)),
        (np.array([7], np.int64), np.array([1.5])),
        (np.array([0, 60], np.int64), np.array([np.nan, -0.0])),
        (np.array([0, 60, 120], np.int64), np.array([1.0, 1.0, 1.0])),
        (np.zeros(10, np.int64), np.full(10, 1.5)),
        (np.array([0, 2**40, -(2**40), 5], np.int64), np.array([np.nan, np.inf, -np.inf, 0.0])),
        (np.array([2**62, -(2**62), 2**62, -(2**62)], np.int64), rng.normal(size=4)),
        (np.cumsum(rng.integers(55, 65, 240)).astype(np.int64), np.round(rng.normal(100, 5, 240), 3)),
        (np.empty(0, np.int64), np.empty(0, np.float64)),
    ]
    for _ in range(60):
        n = int(rng.integers(0, 40))
        chunks.append(
            (
                np.sort(rng.integers(-(10**12), 10**12, n)).astype(np.int64),
                rng.normal(0, 1e6, n),
            )
        )
    ts = np.concatenate([c[0] for c in chunks])
    vs = np.concatenate([c[1] for c in chunks])
    offsets = np.concatenate([[0], np.cumsum([len(c[0]) for c in chunks])]).astype(np.int64)
    got = codec.encode_chunks(ts, vs, offsets)
    want = [codec.encode_chunk(t, v) for t, v in chunks]
    assert got == want


def test_encode_chunks_bad_offsets_raise():
    ts = np.arange(4, dtype=np.int64)
    vs = np.ones(4)
    with pytest.raises(ValueError):
        codec.encode_chunks(ts, vs, np.array([0, 2], dtype=np.int64))  # doesn't end at len
    with pytest.raises(ValueError):
        codec.encode_chunks(ts, vs, np.array([0, 3, 2, 4], dtype=np.int64))  # not monotone
    with pytest.raises(ValueError):
        codec.encode_chunks(ts, np.ones(3), np.array([0, 4], dtype=np.int64))  # len mismatch


def test_decode_chunks_matches_scalar_adversarial(decode_chunk_scalar):
    """decode_chunks must be bit-identical to the field-at-a-time scalar
    reference per chunk — empty chunks, n=1/2/3 specials, NaN/inf/-0.0,
    wrapping timestamps, 64-bit dod escapes, gap-y tier-like streams and
    class-hostile jittered streams, decoded in one batch."""
    rng = np.random.default_rng(99)
    chunks = [
        (np.empty(0, np.int64), np.empty(0, np.float64)),
        (np.array([7], np.int64), np.array([1.5])),
        (np.array([0, 60], np.int64), np.array([np.nan, -0.0])),
        (np.array([0, 60, 120], np.int64), np.array([1.0, 1.0, 1.0])),
        (np.zeros(10, np.int64), np.full(10, 1.5)),
        (np.array([2**62, -(2**62), 2**62, -(2**62)], np.int64), rng.normal(size=4)),
    ]
    for _ in range(30):
        n = int(rng.integers(0, 40))
        chunks.append(
            (np.sort(rng.integers(-(10**12), 10**12, n)).astype(np.int64),
             rng.normal(0, 1e6, n))
        )
    for _ in range(10):  # gap-y tier-like + jittered hostile
        n = int(rng.integers(200, 260))
        keep = np.sort(rng.choice(int(n * 1.2), n, replace=False))
        chunks.append(((60 * keep).astype(np.int64), np.round(rng.normal(100, 5, n), 3)))
        chunks.append(
            (60 * np.arange(n, dtype=np.int64) + rng.integers(0, 2, n),
             np.round(rng.normal(100, 5, n), 3))
        )
    payloads = [codec.encode_chunk(t, v) for t, v in chunks]
    ts, vs, off = codec.decode_chunks(payloads)
    assert len(off) == len(payloads) + 1
    for c, (t, v) in enumerate(chunks):
        want_t, want_v = decode_chunk_scalar(payloads[c])
        assert (want_t == t).all() and (want_v.view(np.uint64) == v.view(np.uint64)).all(), c
        assert (ts[off[c] : off[c + 1]] == want_t).all(), c
        assert (vs[off[c] : off[c + 1]].view(np.uint64) == want_v.view(np.uint64)).all(), c


def test_decode_chunks_bad_magic_raises():
    with pytest.raises(ValueError):
        codec.decode_chunks([b"NOPE" + b"\x00" * 12])


def test_decode_chunks_malformed_payloads_raise():
    """A payload whose header or sections do not fit fails loudly with a
    ValueError naming its chunk index — never wrong points or an
    IndexError/struct.error: truncated by 1, 8 or 40 bytes, one trailing
    extra byte, tlen one short, shorter than the header, a header-only
    payload with n > 0, an empty chunk with a trailing byte, and the
    retired GOR1 magic."""
    import struct

    rng = np.random.default_rng(5)
    ts = np.cumsum(rng.integers(55, 65, 1000)).astype(np.int64)
    p = encode_chunk(ts, np.round(rng.normal(100, 5, 1000), 3))
    n, tlen = struct.unpack("<IQ", p[4:16])
    good = encode_chunk(ts[:50], np.arange(50.0))
    damaged = {
        "cut 1": p[:-1],
        "cut 8": p[:-8],
        "cut 40": p[:-40],
        "extra byte": p + b"\x00",
        "tlen - 1": p[:4] + struct.pack("<IQ", n, tlen - 1) + p[16:],
        "under 16 bytes": p[:10],
        "header only": p[:4] + struct.pack("<IQ", 5, 0),
        "empty + byte": encode_chunk(ts[:0], ts[:0].astype(float)) + b"\x00",
    }
    for bad in damaged.values():
        with pytest.raises(ValueError, match="malformed Gorilla chunk 1"):
            codec.decode_chunks([good, bad, good])
        with pytest.raises(ValueError, match="malformed Gorilla chunk 0"):
            codec.decode_chunks([bad])
    with pytest.raises(ValueError, match="not a Gorilla chunk"):
        codec.decode_chunks([good, b"GOR1" + p[4:]])
    # the undamaged batch still decodes
    t2, _, off = codec.decode_chunks([good, p, good])
    assert (t2[off[1] : off[2]] == ts).all()

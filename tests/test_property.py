"""Property-based tests (hypothesis) for the pure-Python kernels: the
Gorilla/delta-of-delta codec, the XLSX codec, and
the rolling-window oracle math vs naive reimplementations."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from series_correction_project_updated_spark.functions import compress as codec
from series_correction_project_updated_spark.functions.xlsx import decode_xlsx, encode_xlsx
from series_correction_project_updated_spark.oracle import correction as oracle

# --- Gorilla codec: bit-exact roundtrip for ANY doubles -----------------------

finite_or_special = st.one_of(
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.just(float("nan")),
    st.just(float("inf")),
    st.just(float("-inf")),
    st.just(0.0),
    st.just(-0.0),
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300),
    st.data(),
)
def test_gorilla_roundtrip_any_values(ts_raw, data):
    ts = np.unique(np.asarray(ts_raw, dtype=np.int64))
    vals = np.array(
        data.draw(
            st.lists(finite_or_special, min_size=len(ts), max_size=len(ts))
        ),
        dtype=np.float64,
    )
    payload = codec.encode_chunk(ts, vals)
    ts2, vals2, _ = codec.decode_chunks([payload])
    assert (ts2 == ts).all()
    # bit-exact incl. NaN payloads and signed zeros
    assert (vals2.view(np.uint64) == vals.view(np.uint64)).all()


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=2, max_value=500), st.integers(min_value=1, max_value=10**6))
def test_gorilla_regular_timestamps_near_one_bit(n, step):
    """Regular cadence → delta-of-delta ≈ 0 → ~1 bit per timestamp."""
    ts = np.arange(n, dtype=np.int64) * step
    vals = np.full(n, 1.25)
    payload = codec.encode_chunk(ts, vals)
    ts2, vals2, _ = codec.decode_chunks([payload])
    assert (ts2 == ts).all() and (vals2 == vals).all()
    if n > 50:  # amortized ≈1 bit/ts + 1 bit/val + heads + chunk framing
        assert len(payload) * 8 < 64 * 6 + 3 * n

# --- XLSX codec ---------------------------------------------------------------

cell = st.one_of(
    st.none(),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Cc"),  # no surrogates/control chars in XML
        ),
        max_size=40,
    ),
)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=1, max_value=8), st.integers(min_value=1, max_value=12), st.data())
def test_xlsx_roundtrip_property(n_cols, n_rows, data):
    header = [f"c{i}" for i in range(n_cols)]
    rows = [header] + [
        data.draw(st.lists(cell, min_size=n_cols, max_size=n_cols))
        for _ in range(n_rows)
    ]
    _name, back = decode_xlsx(encode_xlsx(rows))
    assert back[0] == header
    for want, got in zip(rows[1:], back[1:]):
        for w, g in zip(want, got):
            if w is None or (isinstance(w, str) and w == ""):
                assert g is None or g == ""
            elif isinstance(w, bool):
                assert g is w
            elif isinstance(w, float):
                assert g == w
            else:
                assert g == w


# --- oracle rolling windows vs naive definitions ------------------------------


def _naive_center_median(values, w):
    pad_l = w // 2
    pad_r = w - 1 - pad_l
    padded = np.concatenate([np.full(pad_l, np.nan), values, np.full(pad_r, np.nan)])
    return np.array([np.median(padded[i : i + w]) for i in range(len(values))])


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.just(float("nan")),
        ),
        min_size=5,
        max_size=120,
    )
)
def test_rolling_center_median_matches_naive(vals):
    v = np.asarray(vals, dtype=np.float64)
    got = oracle._rolling_center_median(v, 5)
    want = _naive_center_median(v, 5)
    assert ((got == want) | (np.isnan(got) & np.isnan(want))).all()


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=6, max_size=100),
    st.integers(min_value=0, max_value=10**6),
)
def test_process_series_deterministic_and_sorted(vals, seed):
    rng = np.random.default_rng(seed)
    t = np.sort(rng.uniform(0, 1e6, len(vals)))
    df = pd.DataFrame({"t": t, "value": vals})
    a = oracle.process_series(df, "t", "value")
    b = oracle.process_series(df.sample(frac=1.0, random_state=1), "t", "value")
    # input row order must not matter; output sorted by time
    pd.testing.assert_frame_equal(a, b)
    assert (np.diff(a["t"].to_numpy()) >= 0).all()


def _cusum_loop_reference(x: np.ndarray, threshold: float) -> list[int]:
    """The original scalar CUSUM-reset loop (reference scripts/processor.py:
    118-199 semantics) — kept HERE as the parity target for the vectorized
    carry-seeded-cumsum scan that replaced it in the kernel."""
    out = []
    cusum = 0.0
    for i in range(len(x)):
        cusum += x[i]
        if abs(cusum) > threshold:
            out.append(i)
            cusum = 0.0
    return out


@given(
    st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=64),
        min_size=0,
        max_size=700,
    ),
    st.floats(min_value=1e-6, max_value=5.0),
)
@settings(max_examples=200, deadline=None)
def test_cusum_scan_matches_scalar_loop(vals, threshold):
    x = np.asarray(vals, dtype=np.float64)
    assert oracle._cusum_resets(x, threshold) == _cusum_loop_reference(x, threshold)


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=50, deadline=None)
def test_cusum_scan_dense_and_boundary(seed):
    """Dense triggers (tiny threshold) and |cusum| values engineered close
    to the threshold — the re-association-sensitive regime."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 3000))
    x = rng.normal(0, 1, n)
    for thr in (1e-9, 0.5, float(np.abs(np.cumsum(x)).max() or 1.0)):
        assert oracle._cusum_resets(x, thr) == _cusum_loop_reference(x, thr)


@given(
    st.integers(1, 40),
    st.integers(1, 9),
    st.integers(0, 2**32 - 1),
    st.floats(0.0, 1.0),
)
@settings(max_examples=200, deadline=None)
def test_nanmedian_rows_matches_numpy(m, w, seed, nan_frac):
    rng = np.random.default_rng(seed)
    win = rng.normal(0, 1, (m, w))
    win[rng.random((m, w)) < nan_frac] = np.nan
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", category=RuntimeWarning)
        want = np.nanmedian(win, axis=1)
    got = oracle._nanmedian_rows(win)
    np.testing.assert_array_equal(got, want)


def _encode_values_loop_reference(values: np.ndarray):
    """The original per-element Gorilla window-reuse loop — parity target
    for the vectorized segment-scan encoder."""
    bits = np.asarray(values, dtype=np.float64).view(np.uint64)
    n = len(bits)
    head = np.array([bits[0]], dtype=np.uint64)
    head_len = np.array([64], dtype=np.int64)
    if n == 1:
        return [head], [head_len]
    xors = bits[1:] ^ bits[:-1]
    m = len(xors)
    bl = codec._bit_length_u64(xors)
    lead = np.minimum(64 - bl, 31)
    low = xors & (~xors + codec._ONE)
    trail = codec._bit_length_u64(low) - 1
    hdr_l = [0] * m
    hdr_len_l = [1] * m
    pay_l = [0] * m
    pay_len_l = [0] * m
    prev_lead, prev_len = -1, 0
    for i, x in enumerate(xors.tolist()):
        if x == 0:
            continue
        le = int(lead[i])
        tr = int(trail[i])
        if prev_lead != -1 and le >= prev_lead and tr >= 64 - prev_lead - prev_len:
            hdr_l[i] = 0b10
            hdr_len_l[i] = 2
            pay_l[i] = x >> (64 - prev_lead - prev_len)
            pay_len_l[i] = prev_len
        else:
            length = 64 - le - tr
            hdr_l[i] = (0b11 << 11) | (le << 6) | (length - 1)
            hdr_len_l[i] = 13
            pay_l[i] = x >> tr
            pay_len_l[i] = length
            prev_lead, prev_len = le, length
    codes = np.empty(2 * m, dtype=np.uint64)
    lens = np.empty(2 * m, dtype=np.int64)
    codes[0::2] = hdr_l
    lens[0::2] = hdr_len_l
    codes[1::2] = pay_l
    lens[1::2] = pay_len_l
    return [head, codes], [head_len, lens]


@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=1,
        max_size=300,
    )
)
@settings(max_examples=200, deadline=None)
def test_values_encoder_matches_loop(vals):
    v = np.asarray(vals, dtype=np.float64)
    got_c, got_l = codec._encode_values_codes(v)
    want_c, want_l = _encode_values_loop_reference(v)
    assert len(got_c) == len(want_c)
    for gc, wc in zip(got_c, want_c):
        np.testing.assert_array_equal(np.asarray(gc, dtype=np.uint64), np.asarray(wc, dtype=np.uint64))
    for gl, wl in zip(got_l, want_l):
        np.testing.assert_array_equal(np.asarray(gl, dtype=np.int64), np.asarray(wl, dtype=np.int64))


@given(st.integers(0, 2**32 - 1), st.integers(1, 2000))
@settings(max_examples=40, deadline=None)
def test_values_encoder_matches_loop_smooth(seed, n):
    """Random-walk + repeated + near-equal values — the regimes that drive
    long reuse runs and dense window changes."""
    rng = np.random.default_rng(seed)
    v = np.round(np.cumsum(rng.normal(0, 1, n)), 2)
    v[rng.random(n) < 0.2] = v[0]
    got_c, got_l = codec._encode_values_codes(v)
    want_c, want_l = _encode_values_loop_reference(v)
    for gc, wc in zip(got_c, want_c):
        np.testing.assert_array_equal(np.asarray(gc, dtype=np.uint64), np.asarray(wc, dtype=np.uint64))
    for gl, wl in zip(got_l, want_l):
        np.testing.assert_array_equal(np.asarray(gl, dtype=np.int64), np.asarray(wl, dtype=np.int64))


def test_bit_length_u64_exact_all_boundaries():
    """bit_length must be exact at and around every power of two and at the
    extremes — frexp-based computation verified against int.bit_length."""
    vals = [0, 1, 2]
    for s in range(1, 64):
        p = 1 << s
        vals += [p - 1, p, p + 1]
    vals += [(1 << 64) - 1, (1 << 63) + 12345, 0xFFFFFFFF, 0x100000000]
    arr = np.array([v & ((1 << 64) - 1) for v in vals], dtype=np.uint64)
    got = codec._bit_length_u64(arr)
    want = np.array([int(v).bit_length() for v in arr.tolist()], dtype=np.int64)
    np.testing.assert_array_equal(got, want)


@given(st.lists(st.integers(0, (1 << 64) - 1), min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_bit_length_u64_random(vals):
    arr = np.array(vals, dtype=np.uint64)
    got = codec._bit_length_u64(arr)
    want = np.array([v.bit_length() for v in vals], dtype=np.int64)
    np.testing.assert_array_equal(got, want)


# --- Vectorized batch decoder == scalar reference decoder ---------------------
# (the reference, ``decode_chunk_scalar``, is a conftest fixture)


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=400
    ),
    st.data(),
)
def test_vectorized_decode_matches_scalar(decode_chunk_scalar, deltas, data):
    """``decode_chunks`` must be bit-identical to the field-at-a-time
    scalar reference on arbitrary dod classes (incl. 32/64-bit escapes),
    window churn, and NaN values."""
    ts = np.cumsum(np.asarray(deltas, dtype=np.int64))
    vals = np.array(
        data.draw(st.lists(finite_or_special, min_size=len(ts), max_size=len(ts))),
        dtype=np.float64,
    )
    payload = codec.encode_chunk(ts, vals)
    t_vec, v_vec, _ = codec.decode_chunks([payload])
    t_sca, v_sca = decode_chunk_scalar(payload)
    assert (t_vec == t_sca).all() and (t_vec == ts).all()
    assert (v_vec.view(np.uint64) == v_sca.view(np.uint64)).all()
    assert (v_vec.view(np.uint64) == vals.view(np.uint64)).all()


def test_vectorized_decode_fallback_paths(decode_chunk_scalar):
    """Large streams of four shapes, decoded in one batch and checked
    against the scalar reference: dod=0 runs, one repeating dod class,
    class-hostile random deltas and a mixed stream. They drive the
    pointer doubling through ~15 levels and the value walk's vectorized
    growing-block scans past their scalar peeks."""
    rng = np.random.default_rng(11)
    n = 30_000
    cases = [
        np.arange(n, dtype=np.int64) * 60,  # dod=0 runs
        np.cumsum(np.tile([60, 120], n // 2)[:n]).astype(np.int64),  # one class run
        np.cumsum(rng.integers(-(10**12), 10**12, size=n)).astype(np.int64),  # hostile
        np.cumsum(rng.choice([60, 60, 60, 120, 300], size=n)).astype(np.int64),  # mixed
    ]
    chunks = [(ts, np.cumsum(rng.normal(0, 1, n)).round(3)) for ts in cases]
    payloads = [codec.encode_chunk(ts, vals) for ts, vals in chunks]
    t_vec, v_vec, off = codec.decode_chunks(payloads)
    for c, (ts, vals) in enumerate(chunks):
        t_sca, v_sca = decode_chunk_scalar(payloads[c])
        assert (t_sca == ts).all() and (v_sca.view(np.uint64) == vals.view(np.uint64)).all()
        assert (t_vec[off[c] : off[c + 1]] == t_sca).all()
        assert (v_vec[off[c] : off[c + 1]].view(np.uint64) == v_sca.view(np.uint64)).all()


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=120),
    st.data(),
)
def test_encode_chunks_equals_per_chunk(ts_raw, data):
    """Batch encoder ≡ per-chunk encoder under ARBITRARY chunk partitions
    of arbitrary (sorted-per-chunk) timestamps and special-value floats —
    the flat masked math must reproduce every chunk byte-for-byte."""
    ts = np.sort(np.asarray(ts_raw, dtype=np.int64))
    vals = np.array(
        data.draw(st.lists(finite_or_special, min_size=len(ts), max_size=len(ts))),
        dtype=np.float64,
    )
    n = len(ts)
    cuts = data.draw(
        st.lists(st.integers(min_value=0, max_value=n), min_size=0, max_size=8)
    )
    offsets = np.array(sorted([0, *cuts, n]), dtype=np.int64)
    got = codec.encode_chunks(ts, vals, offsets)
    want = [
        codec.encode_chunk(ts[offsets[c] : offsets[c + 1]], vals[offsets[c] : offsets[c + 1]])
        for c in range(len(offsets) - 1)
    ]
    assert got == want


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=120),
    st.data(),
)
def test_decode_chunks_equals_scalar(decode_chunk_scalar, ts_raw, data):
    """Batch decoder ≡ scalar reference under ARBITRARY chunk partitions:
    the pointer-doubled dod table, segmented cumsums, and segmented XOR
    accumulate must reproduce every chunk bit-for-bit (NaN payloads
    compared on the uint64 view)."""
    ts = np.sort(np.asarray(ts_raw, dtype=np.int64))
    vals = np.array(
        data.draw(st.lists(finite_or_special, min_size=len(ts), max_size=len(ts))),
        dtype=np.float64,
    )
    n = len(ts)
    cuts = data.draw(
        st.lists(st.integers(min_value=0, max_value=n), min_size=0, max_size=8)
    )
    offsets = np.array(sorted([0, *cuts, n]), dtype=np.int64)
    payloads = [
        codec.encode_chunk(ts[offsets[c] : offsets[c + 1]], vals[offsets[c] : offsets[c + 1]])
        for c in range(len(offsets) - 1)
    ]
    got_ts, got_vals, got_off = codec.decode_chunks(payloads)
    assert (got_off == offsets).all()
    for c in range(len(payloads)):
        want_t, want_v = decode_chunk_scalar(payloads[c])
        t2 = got_ts[got_off[c] : got_off[c + 1]]
        v2 = got_vals[got_off[c] : got_off[c + 1]]
        assert (t2 == want_t).all()
        assert (v2.view(np.uint64) == want_v.view(np.uint64)).all()

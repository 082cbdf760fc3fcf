"""Per-series ``mapInPandas`` operators: Arrow batch size must not change
their output, and every site drops null-key rows.

The keyed operators (correction kernel entries, ``compress_rollup``, the
three smoothers, ``lttb_downsample`` and the clustered ``content_drift``)
read each partition as a stream of Arrow batches. With
``spark.sql.execution.arrow.maxRecordsPerBatch=257`` most series straddle
batch boundaries, so any frame that splits a series shows up as a
difference from the default run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

SMALL_BATCH = "257"
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _series_frame(n_series_lens=(40, 300, 700, 1200, 5, 260, 900, 1)):
    """Series with a gap, spikes, a level jump and a few NaN values each,
    so every kernel step has work on every long series."""
    rng = np.random.default_rng(7)
    frames = []
    for i, n in enumerate(n_series_lens):
        dt = np.full(n, 60.0)
        if n > 10:
            dt[n // 3] = 900.0  # one gap
        t = 1_600_000_000.0 + np.cumsum(dt)
        v = np.sin(np.arange(n) / 17.0) + rng.normal(0.0, 0.05, n)
        v[2 * n // 3 :] += 4.0  # level jump
        if n > 20:
            v[rng.choice(n, 3, replace=False)] += 25.0  # spikes
            v[rng.choice(n, 2, replace=False)] = np.nan
        frames.append(pd.DataFrame({"series_key": f"s{i:02d}", "t": t, "value": v}))
    return pd.concat(frames, ignore_index=True).sample(frac=1.0, random_state=3)


def _pages_frame(n_urls=5, crawls=300):
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for u in range(n_urls):
        words = list(rng.choice(vocab, 30))
        for c in range(crawls):
            r = rng.random()
            if r < 0.1:
                words = list(rng.choice(vocab, 30))  # rewrite
            elif r < 0.3:
                words[rng.integers(30)] = vocab[rng.integers(40)]  # cosmetic
            text = " ".join(words) if r >= 0.05 else " ".join(words) + "  "
            rows.append((f"https://e{u}.test/p", 1_600_000_000 + 3600 * c, text))
    pdf = pd.DataFrame(rows, columns=["url", "ts", "text"])
    pdf["warc_ts"] = pd.to_datetime(pdf.pop("ts"), unit="s")
    return pdf[["url", "warc_ts", "text"]].sample(frac=1.0, random_state=5)


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(
        _series_frame(), "series_key string, t double, value double"
    ).cache()


@pytest.fixture(scope="module")
def pages(spark):
    df = spark.createDataFrame(
        _pages_frame(), "url string, warc_ts timestamp, text string"
    )
    return df.repartition(3, "url").cache()


def _ops(points, pages):
    from series_correction_project_updated_spark.operators.compress import compress_rollup
    from series_correction_project_updated_spark.operators.correct import (
        correct_and_rollup,
        correct_rollup_lineage,
        correct_series,
        correct_series_chunked,
    )
    from series_correction_project_updated_spark.operators.drift import content_drift
    from series_correction_project_updated_spark.operators.rollup import lttb_downsample
    from series_correction_project_updated_spark.operators.smooth import (
        ewma_holt_smooth,
        ewma_smooth,
        holt_smooth,
    )

    cfg = {"window_size": 5, "threshold": 3.0}
    return {
        "correct_series": lambda: correct_series(points, cfg, num_partitions=2),
        "correct_and_rollup": lambda: correct_and_rollup(points, "1m", cfg, num_partitions=2),
        "correct_rollup_lineage": lambda: correct_rollup_lineage(
            points, "1m", cfg, num_partitions=2
        ),
        "correct_series_chunked": lambda: correct_series_chunked(
            points, cfg, chunk_sec=20_000.0
        ),
        "compress_rollup": lambda: compress_rollup(
            correct_and_rollup(points, "1m", cfg, num_partitions=2),
            "1m",
            chunk_buckets=64,
            num_partitions=2,
        ),
        "ewma_smooth": lambda: ewma_smooth(points, 0.3, num_partitions=2),
        "holt_smooth": lambda: holt_smooth(points, 0.3, 0.1, num_partitions=2),
        "ewma_holt_smooth": lambda: ewma_holt_smooth(points, 0.3, 0.1, num_partitions=2),
        "lttb_downsample": lambda: lttb_downsample(points, 50, num_partitions=2),
        "content_drift": lambda: content_drift(pages, assume_clustered=True),
        "content_drift_portable": lambda: content_drift(
            pages, portable=True, assume_clustered=True
        ),
    }


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    by = [c for c in pdf.columns if c != "payload"]
    return pdf.sort_values(by, kind="mergesort").reset_index(drop=True)


def test_outputs_invariant_to_arrow_batch_size(spark, points, pages):
    ops = _ops(points, pages)
    default = {name: _sorted(build().toPandas()) for name, build in ops.items()}
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, SMALL_BATCH)
    try:
        small = {name: _sorted(build().toPandas()) for name, build in ops.items()}
    finally:
        spark.conf.set(BATCH_CONF, old)
    for name in ops:
        assert len(default[name]) > 0, name
        pd.testing.assert_frame_equal(small[name], default[name], check_exact=True, obj=name)


# --- null keys: every site drops the rows ----------------------------------


def _with_null_keys(spark, key_col="series_key"):
    pdf = pd.DataFrame(
        {
            key_col: [None] * 5 + ["a"] * 5,
            "t": [5.0, 4.0, 3.0, 2.0, 1.0] * 2,
            "value": [1.0, 2.0, 30.0, 4.0, 5.0] * 2,
        }
    )
    return spark.createDataFrame(pdf, f"{key_col} string, t double, value double")


@pytest.mark.parametrize(
    "entry",
    ["correct_series", "correct_and_rollup", "correct_rollup_lineage", "correct_series_chunked"],
)
def test_kernel_drops_null_key_rows(spark, entry):
    from series_correction_project_updated_spark.operators import correct

    pts = _with_null_keys(spark)
    out = getattr(correct, entry)(pts).toPandas()
    keyed = getattr(correct, entry)(pts.where("series_key IS NOT NULL")).toPandas()
    assert out["series_key"].notna().all()
    pd.testing.assert_frame_equal(_sorted(out), _sorted(keyed), check_exact=True)


@pytest.mark.parametrize("op", ["ewma_smooth", "holt_smooth", "ewma_holt_smooth"])
def test_smoothers_drop_null_key_rows(spark, op):
    """Null-key rows are not one shared series: they yield no output."""
    from series_correction_project_updated_spark.operators import smooth

    fn = getattr(smooth, op)
    args = (0.5,) if op == "ewma_smooth" else (0.5, 0.2)
    pts = _with_null_keys(spark)
    out = _sorted(fn(pts, *args).toPandas())
    keyed = _sorted(fn(pts.where("series_key IS NOT NULL"), *args).toPandas())
    assert len(out) > 0 and set(out["series_key"]) == {"a"}
    pd.testing.assert_frame_equal(out, keyed, check_exact=True)


def test_lttb_drops_null_key_rows(spark):
    from series_correction_project_updated_spark.operators.rollup import lttb_downsample

    out = lttb_downsample(_with_null_keys(spark), 3).toPandas()
    assert out["series_key"].tolist() == ["a"] * 3


def test_compress_rejects_null_series_key(spark):
    """Null-key tier rows are rejected by dropping them, not by a JVM
    NullPointerException: the payloads are those of the keyed rows."""
    from series_correction_project_updated_spark.operators.compress import compress_rollup

    tier = spark.createDataFrame(
        pd.DataFrame(
            {"series_key": [None, None, "a"], "bucket_start": [0, 60, 0], "vsum": [1.0, 2.0, 3.0]}
        ),
        "series_key string, bucket_start long, vsum double",
    )
    out = compress_rollup(tier, "1m", num_partitions=2).toPandas()
    keyed = compress_rollup(tier.where("series_key IS NOT NULL"), "1m", num_partitions=2).toPandas()
    assert out["series_key"].tolist() == ["a"]
    assert out["n_points"].tolist() == [1]
    pd.testing.assert_frame_equal(out, keyed, check_exact=True)


@pytest.mark.parametrize("portable", [False, True])
def test_clustered_drift_rejects_null_url(spark, portable):
    """Null-url pages are rejected by dropping them, not by a JVM
    NullPointerException."""
    from series_correction_project_updated_spark.operators.drift import content_drift

    pages = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [None, None, "u", "u"],
                "warc_ts": pd.to_datetime([1, 2, 1, 2], unit="s"),
                "text": ["a b", "c d", "a b", "a b"],
            }
        ),
        "url string, warc_ts timestamp, text string",
    )

    def drift(df):
        out = content_drift(df.repartition(2, "url"), portable=portable, assume_clustered=True)
        return _sorted(out.toPandas())

    out = drift(pages)
    assert out["url"].tolist() == ["u", "u"]
    pd.testing.assert_frame_equal(out, drift(pages.where("url IS NOT NULL")), check_exact=True)


# --- the batch regrouping generator, without Spark ---------------------------


def _sorted_keyed_frame(rng):
    """Rows of up to 25 keys (string with a null run, then int), sorted by
    key as the JVM sort delivers them; one key is often much longer."""
    n_keys = int(rng.integers(1, 25))
    lens = rng.integers(1, 60, n_keys)
    if rng.random() < 0.5:
        lens[rng.integers(n_keys)] = 700
    names = [None] + [f"k{i // 3:02d}" for i in range(n_keys - 1)]
    rows = [
        (names[i], i % 3, float(j))
        for i in range(n_keys)
        for j in range(int(lens[i]))
    ]
    return pd.DataFrame(rows, columns=["a", "b", "x"]), int(lens.max())


def _split(pdf, rng):
    """Consecutive batches of random size, some of them empty."""
    cuts, pos = [0], 0
    while pos < len(pdf):
        pos = min(len(pdf), pos + int(rng.choice([0, 1, 7, 50, 257])))
        cuts.append(pos)
    return [pdf.iloc[s:e] for s, e in zip(cuts[:-1], cuts[1:])]


@pytest.mark.parametrize("seed", range(25))
def test_keyed_frames_hold_only_complete_keys(seed):
    from series_correction_project_updated_spark.operators._keyed import keyed_frames

    rng = np.random.default_rng(seed)
    pdf, largest = _sorted_keyed_frame(rng)
    batches = _split(pdf, rng)
    frames = list(keyed_frames(iter(batches), ["a", "b"]))

    pd.testing.assert_frame_equal(
        pd.concat([f for f, _ in frames], ignore_index=True), pdf.reset_index(drop=True)
    )
    seen = set()
    for frame, offsets in frames:
        assert offsets.dtype == np.int64
        assert offsets[0] == 0 and offsets[-1] == len(frame)
        assert len(frame) <= max(len(b) for b in batches) + largest
        keys = list(zip(frame["a"], frame["b"]))
        for s, e in zip(offsets[:-1], offsets[1:]):
            assert s < e and len(set(keys[s:e])) == 1
            assert keys[s] not in seen  # no key in two frames
            seen.add(keys[s])
    assert len(seen) == len(set(zip(pdf["a"], pdf["b"])))


def test_keyed_frames_empty_and_single_key():
    from series_correction_project_updated_spark.operators._keyed import keyed_frames

    assert list(keyed_frames(iter([]), ["a"])) == []
    empty = pd.DataFrame({"a": pd.Series([], dtype=object)})
    assert list(keyed_frames(iter([empty, empty]), ["a"])) == []
    one = pd.DataFrame({"a": ["k"] * 10})
    ((frame, offsets),) = keyed_frames(iter([one.iloc[:3], one.iloc[3:], empty]), ["a"])
    assert len(frame) == 10 and offsets.tolist() == [0, 10]

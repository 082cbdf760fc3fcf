"""Spark-vs-oracle parity for the correction kernel, rollups, compression.

The central guarantee (BASELINE.json north_rule): distributed output must
EXACTLY match the single-node reference implementation, per series, and be
invariant to parallelism/partitioning.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from series_correction_project_updated_spark.oracle import correction as oracle
from series_correction_project_updated_spark.operators.correct import (
    correct_series,
    detect_gaps_native,
    global_mad_correct_native,
)
from series_correction_project_updated_spark.operators.rollup import (
    cascade,
    rollup,
    rollup_all_tiers,
)
from series_correction_project_updated_spark.operators.compress import (
    bytes_per_point,
    compress_rollup,
    decompress_to_points,
)
from series_correction_project_updated_spark.sources.synth import (
    generate_pages,
    pages_to_series,
)


@pytest.fixture(scope="module")
def series_pdf(spark):
    pages = generate_pages(spark, n_urls=20, samples_per_url=120, seed=42)
    return pages_to_series(pages).toPandas()


def _oracle_all(series_pdf, cfg=None):
    outs = []
    for key, grp in series_pdf.groupby("series_key"):
        out = oracle.process_series(grp[["t", "value"]], "t", "value", cfg)
        out.insert(0, "series_key", key)
        outs.append(out)
    return (
        pd.concat(outs)
        .sort_values(["series_key", "t"])
        .reset_index(drop=True)
    )


def test_kernel_matches_oracle_exactly(spark, series_pdf):
    sdf = spark.createDataFrame(series_pdf)
    got = (
        correct_series(sdf)
        .orderBy("series_key", "t")
        .toPandas()
        .reset_index(drop=True)
    )
    want = _oracle_all(series_pdf)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_kernel_invariant_to_partitioning(spark, series_pdf):
    sdf = spark.createDataFrame(series_pdf)
    a = correct_series(sdf, num_partitions=2).orderBy("series_key", "t").toPandas()
    b = correct_series(sdf, num_partitions=16).orderBy("series_key", "t").toPandas()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True), check_exact=True)


def test_native_gap_detect_matches_oracle(spark, series_pdf):
    sdf = spark.createDataFrame(series_pdf)
    got = detect_gaps_native(sdf).select("series_key", "t").toPandas()
    got_set = set(map(tuple, got.itertuples(index=False)))
    want_set = set()
    for key, grp in series_pdf.groupby("series_key"):
        g = grp.sort_values("t").reset_index(drop=True)
        for pos in oracle.detect_gaps(g["t"].to_numpy()):
            want_set.add((key, g["t"].iloc[pos]))
    assert got_set == want_set
    assert len(want_set) > 0  # synth injects gaps; detector must fire


def test_global_mad_native_matches_oracle(spark, series_pdf):
    from series_correction_project_updated_spark.oracle import global_mad_correct

    sdf = spark.createDataFrame(series_pdf)
    got = (
        global_mad_correct_native(sdf)
        .orderBy("series_key", "t")
        .toPandas()
        .reset_index(drop=True)
    )
    for key, grp in got.groupby("series_key"):
        raw = grp["value"].to_numpy()
        corrected, outliers = global_mad_correct(raw, threshold=3.0)
        np.testing.assert_array_equal(grp["is_outlier"].to_numpy(), outliers)
        np.testing.assert_allclose(grp["corrected"].to_numpy(), corrected, rtol=0, atol=0)
    assert got["is_outlier"].sum() > 0


def test_rollup_matches_pandas(spark, series_pdf):
    sdf = spark.createDataFrame(series_pdf)
    got = rollup(sdf, "1h").orderBy("series_key", "bucket_start").toPandas()
    pdf = series_pdf.copy()
    pdf["bucket_start"] = (pdf["t"] // 3600 * 3600).astype("int64")
    g = pdf.sort_values("t").groupby(["series_key", "bucket_start"])["value"]
    want = g.agg(cnt="count", vsum="sum", vmin="min", vmax="max", vfirst="first", vlast="last").reset_index()
    want = want.sort_values(["series_key", "bucket_start"]).reset_index(drop=True)
    got = got[want.columns].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=1e-12)


def test_rollup_tie_safe_forms_agree_and_plan_differs(spark, series_pdf):
    """Default (min_by, HashAggregate) and tie_safe (struct, SortAggregate)
    forms agree on unique-timestamp input; under duplicate timestamps the
    tie_safe form is deterministic with the documented (t, value) total
    order; and the default form really does plan hash aggregation."""
    sdf = spark.createDataFrame(series_pdf)
    a = rollup(sdf, "1h").orderBy("series_key", "bucket_start").toPandas()
    b = rollup(sdf, "1h", tie_safe=True).orderBy("series_key", "bucket_start").toPandas()
    pd.testing.assert_frame_equal(a, b, check_exact=False, rtol=1e-12)

    plan_fast = rollup(sdf, "1h")._jdf.queryExecution().executedPlan().toString()
    plan_safe = rollup(sdf, "1h", tie_safe=True)._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan_fast and "HashAggregate" in plan_fast
    assert "SortAggregate" in plan_safe

    dup = spark.createDataFrame(
        [("s", 10.0, 5.0), ("s", 10.0, 1.0), ("s", 20.0, 9.0), ("s", 20.0, 3.0)],
        "series_key string, t double, value double",
    )
    row = rollup(dup, "1m", tie_safe=True).collect()[0]
    assert row["vfirst"] == 1.0  # min t, tie -> smallest value
    assert row["vlast"] == 9.0  # max t, tie -> largest value


def test_cascade_equals_direct(spark, series_pdf):
    sdf = spark.createDataFrame(series_pdf)
    tiers = rollup_all_tiers(sdf)
    direct_1d = rollup(sdf, "1d").orderBy("series_key", "bucket_start").toPandas()
    casc_1d = tiers["1d"].orderBy("series_key", "bucket_start").toPandas()
    cols = ["series_key", "bucket_start", "cnt", "vmin", "vmax", "vfirst", "vlast"]
    pd.testing.assert_frame_equal(casc_1d[cols], direct_1d[cols], check_exact=True)
    np.testing.assert_allclose(casc_1d["vsum"], direct_1d["vsum"], rtol=1e-9)


def test_compress_roundtrip_spark(spark, series_pdf):
    sdf = spark.createDataFrame(series_pdf)
    r1m = rollup(sdf, "1m")
    comp = compress_rollup(r1m, "1m", value_col="vsum")
    back = (
        decompress_to_points(comp)
        .orderBy("series_key", "bucket_start")
        .toPandas()
    )
    want = r1m.select("series_key", "bucket_start", F.col("vsum").alias("value")).orderBy(
        "series_key", "bucket_start"
    ).toPandas()
    np.testing.assert_array_equal(back["bucket_start"].to_numpy(), want["bucket_start"].to_numpy())
    np.testing.assert_array_equal(
        back["value"].to_numpy().view(np.uint64), want["value"].to_numpy().view(np.uint64)
    )
    bpp = bytes_per_point(comp).toPandas()
    assert float(bpp["bytes_per_point"].iloc[0]) < 16.0


def test_read_range_prunes_chunks_and_matches_full_decode(spark, series_pdf):
    from series_correction_project_updated_spark.operators.compress import read_range

    sdf = spark.createDataFrame(series_pdf)
    r1m = rollup(sdf, "1m")
    # small chunks -> several per series, so pruning has something to skip
    comp = compress_rollup(r1m, "1m", value_col="vsum", chunk_buckets=64)
    stats = comp.agg(F.min("t_min"), F.max("t_max")).collect()[0]
    lo, hi = int(stats[0]), int(stats[1])
    # stat columns are exact bounds of the decoded points
    per_chunk = decompress_to_points(comp).groupBy("series_key").agg(
        F.min("bucket_start").alias("plo"), F.max("bucket_start").alias("phi")
    )
    agg = comp.groupBy("series_key").agg(
        F.min("t_min").alias("clo"), F.max("t_max").alias("chi")
    )
    j = per_chunk.join(agg, "series_key")
    assert j.where((F.col("plo") != F.col("clo")) | (F.col("phi") != F.col("chi"))).count() == 0

    # a window in the middle third of the data
    t_lo = lo + (hi - lo) // 3
    t_hi = lo + 2 * (hi - lo) // 3
    got = read_range(comp, t_lo, t_hi).orderBy("series_key", "bucket_start").toPandas()
    want = (
        decompress_to_points(comp)
        .where((F.col("bucket_start") >= t_lo) & (F.col("bucket_start") <= t_hi))
        .orderBy("series_key", "bucket_start")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert len(got) > 0
    # the JVM-side chunk filter really skips chunks before any decode
    surviving = comp.where((F.col("t_max") >= t_lo) & (F.col("t_min") <= t_hi)).count()
    assert surviving < comp.count()

    # key pruning composes
    one_key = got["series_key"].iloc[0]
    got_k = read_range(comp, t_lo, t_hi, series_keys=[one_key]).toPandas()
    pd.testing.assert_frame_equal(
        got_k.sort_values(["bucket_start"]).reset_index(drop=True),
        want[want["series_key"] == one_key]
        .sort_values(["bucket_start"])
        .reset_index(drop=True),
        check_exact=True,
    )


def test_text_byte_identity(spark):
    """north_rule invariant: extracted text stays byte-identical per url."""
    pages = generate_pages(spark, n_urls=10, samples_per_url=50)
    per_url = pages.groupBy("url").agg(F.count_distinct("text").alias("n")).toPandas()
    assert (per_url["n"] == 1).all()


def test_series_plan_prunes_html(spark):
    """Column pruning: the series pipeline must never read html:binary."""
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        generate_pages(spark, n_urls=5, samples_per_url=20).write.mode("overwrite").parquet(d + "/pages")
        pages = spark.read.parquet(d + "/pages")
        plan = pages_to_series(pages)._jdf.queryExecution().executedPlan().toString()
        # the physical scan's ReadSchema must not include the binary column
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln or "struct<" in ln]
        assert read_schema, plan
        assert all("html" not in ln for ln in read_schema), plan


def test_bucket_rollup_partition_matches_per_series():
    """The partition-level run-boundary rollup (r4, reduceat over series
    starts ∪ bucket changes) must reproduce the per-series pandas-groupby
    reference: exact on cnt/min/max/first/last (incl. NaN stripes,
    all-NaN buckets, single-point series, negative times, same bucket
    value across a series boundary), vsum within float association
    (pandas groupby-sum is Kahan-compensated; reduceat is the plain
    sequential fold the staged JVM sum also uses)."""
    from series_correction_project_updated_spark.operators.correct import (
        _bucket_rollup,
        _bucket_rollup_partition,
    )

    rng = np.random.default_rng(5)
    outs, keys = [], []
    for s in range(40):
        n = int(rng.integers(1, 400))
        t = np.sort(rng.uniform(-1e5, 1e6, n))
        if s % 4 == 0:
            t = np.arange(n, dtype=np.float64) * 20.0  # boundary-sharing buckets
        v = rng.normal(0, 100, n)
        v[rng.random(n) < 0.2] = np.nan
        if s % 7 == 0:
            v[:] = np.nan  # all-NaN series -> all-NaN buckets
        outs.append(pd.DataFrame({"t": t, "value": v}))
        keys.append(f"k{s:02d}")
    ts_list = [o["t"].to_numpy(dtype=np.float64) for o in outs]
    vs_list = [o["value"].to_numpy(dtype=np.float64) for o in outs]
    got = _bucket_rollup_partition(ts_list, vs_list, keys, 60)
    want = pd.concat(
        [_bucket_rollup(o, k, 60) for o, k in zip(outs, keys)], ignore_index=True
    )
    assert len(got) == len(want) and len(got) > 40
    for c in ["series_key", "bucket_start", "cnt"]:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    for c in ["vmin", "vmax", "vfirst", "vlast"]:
        a = got[c].to_numpy(dtype=np.float64)
        b = want[c].to_numpy(dtype=np.float64)
        assert (a.view(np.uint64) == b.view(np.uint64)).all(), c  # bit-exact, NaN-aware
    np.testing.assert_allclose(
        got["vsum"].to_numpy(), want["vsum"].to_numpy(), rtol=1e-12, equal_nan=True
    )
    # empty partition
    assert len(_bucket_rollup_partition([], [], [], 60)) == 0
    # zero-length series anywhere — including TRAILING, which used to
    # index change[] out of bounds (r4 code-review find) — own no rows
    e = np.array([], dtype=np.float64)
    two_t = np.array([0.0, 30.0])
    two_v = np.array([1.0, 2.0])
    mixed = _bucket_rollup_partition([e, two_t, e], [e, two_v, e], ["a", "b", "c"], 60)
    assert mixed["series_key"].tolist() == ["b"]
    assert mixed["cnt"].tolist() == [2]


def test_fused_correct_and_rollup_matches_staged(spark):
    """correct_and_rollup == rollup(correct_series(...)): exact on
    cnt/min/max/first/last, vsum within float-association tolerance."""
    from series_correction_project_updated_spark.operators.correct import (
        correct_and_rollup,
        correct_series,
    )
    from series_correction_project_updated_spark.operators.rollup import rollup

    pts = pages_to_series(generate_pages(spark, n_urls=40, samples_per_url=240, interval_sec=20))
    key = ["series_key", "bucket_start"]
    a = rollup(correct_series(pts), "1m").orderBy(*key).toPandas()
    b = correct_and_rollup(pts, "1m").orderBy(*key).toPandas()
    assert len(a) == len(b) and len(a) > 0
    for c in ["series_key", "bucket_start", "cnt", "vmin", "vmax", "vfirst", "vlast"]:
        pd.testing.assert_series_equal(a[c], b[c], check_dtype=False)
    np.testing.assert_allclose(a["vsum"].to_numpy(), b["vsum"].to_numpy(), rtol=1e-12)


def test_gap_method_unknown_raises_from_pandas(series_pdf):
    """scipy-free proof that the gap_method knob reaches pandas
    DataFrame.interpolate: an unknown method surfaces pandas' ValueError."""
    with pytest.raises(ValueError, match="method"):
        oracle.process_series(
            series_pdf[series_pdf.series_key == series_pdf.series_key.iloc[0]][["t", "value"]],
            "t",
            "value",
            {"gap_method": "definitely_not_a_method", "threshold": 1e18},
        )


def test_gap_method_parameter_reaches_interpolation(spark, series_pdf):
    """The reference's interpolation-method knob (processor.py:299 — pandas
    interpolate 'linear'/'nearest'/'spline'/...) passes through config
    end-to-end. 'nearest' (like 'cubic'/'akima'/'pchip') now runs through
    the scipy-free numpy implementations (functions/interp.py), so this
    runs everywhere; methods still delegated to pandas surface pandas'
    ValueError for unknown names, proving the knob reaches the
    interpolation dispatch either way."""
    cfg = {"gap_method": "nearest", "threshold": 1e18}
    sdf = spark.createDataFrame(series_pdf)
    got = (
        correct_series(sdf, config=cfg)
        .orderBy("series_key", "t")
        .toPandas()
        .reset_index(drop=True)
    )
    want = _oracle_all(series_pdf, cfg)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    linear = _oracle_all(series_pdf, {"gap_method": "linear", "threshold": 1e18})
    assert len(want) == len(linear)
    assert not np.allclose(
        want["value"].to_numpy(), linear["value"].to_numpy(), equal_nan=True
    ), "nearest fill should differ from linear fill on synthesized gap rows"


@pytest.mark.parametrize("method", ["mean", "interpolate", "remove"])
def test_outlier_method_variants_match_oracle(spark, series_pdf, method):
    """All four reference outlier-correction modes (processor.py:407-465 —
    median is covered by the default-config suite) flow through config to
    the Spark kernel and match the single-node oracle exactly."""
    cfg = {"outlier_method": method}
    sdf = spark.createDataFrame(series_pdf)
    got = (
        correct_series(sdf, config=cfg)
        .orderBy("series_key", "t")
        .toPandas()
        .reset_index(drop=True)
    )
    want = _oracle_all(series_pdf, cfg)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    if method == "remove":
        assert want["value"].isna().any(), "remove mode should leave NaNs"


@pytest.mark.parametrize(
    "entry, n_out",
    [
        ("correct_series", 40),
        ("correct_and_rollup", 40),
        ("correct_rollup_lineage", 44),  # 40 buckets, 3 lineage rows, 1 chunk
        ("correct_series_chunked", 40),
    ],
)
def test_null_key_rows_yield_no_output(spark, entry, n_out):
    """One null-key policy for every kernel entry: rows with a null
    series_key are dropped, and the keyed series' output is unchanged."""
    from series_correction_project_updated_spark.operators import correct

    run = {
        "correct_series": correct.correct_series,
        "correct_and_rollup": lambda p: correct.correct_and_rollup(p, "1m"),
        "correct_rollup_lineage": lambda p: correct.correct_rollup_lineage(p, "1m"),
        "correct_series_chunked": lambda p: correct.correct_series_chunked(p, chunk_sec=86400.0),
    }[entry]
    t = [float(i * 3600) for i in range(40)]  # 40 hourly rows over two day-chunks
    v = [1.0 + 0.01 * (i % 7) for i in range(40)]
    keyed = pd.DataFrame({"series_key": "a", "t": t, "value": v})
    null_keyed = keyed.assign(series_key=None)
    schema = "series_key string, t double, value double"
    got = run(spark.createDataFrame(pd.concat([null_keyed, keyed]), schema)).toPandas()
    want = run(spark.createDataFrame(keyed, schema)).toPandas()
    assert got["series_key"].notna().all()
    assert len(got) == n_out
    order = [c for c in ("row_kind", "series_key", "t", "bucket_start", "step") if c in got]
    pd.testing.assert_frame_equal(
        got.sort_values(order).reset_index(drop=True),
        want.sort_values(order).reset_index(drop=True),
        check_exact=True,
    )

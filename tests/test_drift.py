"""content_drift: per-url crawl-history change detection (SimHash distance
between consecutive crawls) — the content counterpart of the numeric jump
detector. Planted fixture + independent pandas replay + plan shape."""

import re

import pandas as pd
import pytest

from series_correction_project_updated_spark.operators.drift import (
    content_drift,
    drift_summary,
)

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
REWRITE = "completely different page now selling discount furniture and garden tools online shop"


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        # url a: identical recrawl → unchanged; whitespace jitter →
        # cosmetic (same tokens, hamming 0); full rewrite → rewrite
        ("a", "2024-01-01 00:00:00", BASE),
        ("a", "2024-01-02 00:00:00", BASE),
        ("a", "2024-01-03 00:00:00", "  " + BASE.replace(" ", "   ") + " \n"),
        ("a", "2024-01-04 00:00:00", REWRITE),
        # url b: single crawl
        ("b", "2024-01-01 00:00:00", BASE),
        # url c: null text then content
        ("c", "2024-01-01 00:00:00", None),
        ("c", "2024-01-02 00:00:00", BASE),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string")
    return df.select("url", df.warc_ts.cast("timestamp").alias("warc_ts"), "text")


def test_planted_classification(spark, pages):
    out = content_drift(pages).orderBy("url", "t").collect()
    by_url = {}
    for r in out:
        by_url.setdefault(r["url"], []).append(r)
    a = by_url["a"]
    assert [r["change"] for r in a] == ["first", "unchanged", "cosmetic", "rewrite"]
    assert a[1]["hamming"] == 0  # byte-identical
    assert a[2]["hamming"] == 0  # same tokens → same simhash, bytes differ
    assert a[2]["exact_hash"] != a[1]["exact_hash"]
    assert a[3]["hamming"] > 3
    assert [r["change"] for r in by_url["b"]] == ["first"]
    assert [r["change"] for r in by_url["c"]] == ["first", "rewrite"]
    assert all(r["hamming"] is None for r in out if r["change"] == "first")


def test_matches_pandas_replay(spark, pages):
    """Classification law replayed independently in pandas from the same
    signature columns (simhash correctness itself is parity-tested in
    test_operators_extra / dedup suites)."""
    out = content_drift(pages, hamming_threshold=3).toPandas()
    sig = out[["url", "t", "exact_hash", "simhash"]].sort_values(
        ["url", "t", "exact_hash"]
    )
    want = []
    for _url, g in sig.groupby("url"):
        prev_e = prev_s = None
        for _, r in g.iterrows():
            if prev_e is None:
                want.append((r["url"], r["t"], None, "first"))
            else:
                ham = int(bin((int(r["simhash"]) ^ prev_s) & (2**64 - 1)).count("1"))
                cls = (
                    "unchanged"
                    if r["exact_hash"] == prev_e
                    else ("cosmetic" if ham <= 3 else "rewrite")
                )
                want.append((r["url"], r["t"], ham, cls))
            prev_e, prev_s = r["exact_hash"], int(r["simhash"])
    want_df = pd.DataFrame(want, columns=["url", "t", "hamming", "change"])
    got = out[["url", "t", "hamming", "change"]].sort_values(["url", "t"]).reset_index(drop=True)
    want_df = want_df.sort_values(["url", "t"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"hamming": "Float64"}),
        want_df.astype({"hamming": "Float64"}),
        check_dtype=False,
    )


def test_duplicate_timestamp_deterministic(spark):
    rows = [
        ("u", "2024-01-01 00:00:00", "alpha beta gamma delta epsilon zeta"),
        ("u", "2024-01-01 00:00:00", REWRITE),
        ("u", "2024-01-02 00:00:00", REWRITE),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string")
    df = df.select("url", df.warc_ts.cast("timestamp").alias("warc_ts"), "text")
    a = content_drift(df).orderBy("t", "exact_hash").collect()
    b = content_drift(df.repartition(7)).orderBy("t", "exact_hash").collect()
    assert [(r["change"], r["hamming"]) for r in a] == [
        (r["change"], r["hamming"]) for r in b
    ]


def test_summary(spark, pages):
    s = {r["url"]: r for r in drift_summary(content_drift(pages)).collect()}
    a = s["a"]
    assert (a["n_crawls"], a["n_rewrites"], a["n_cosmetic"], a["n_unchanged"]) == (
        4,
        1,
        1,
        1,
    )
    assert a["rewrite_rate"] == pytest.approx(1 / 3)
    assert s["b"]["rewrite_rate"] is None  # no recrawls → null, not NaN
    assert s["c"]["rewrite_rate"] == pytest.approx(1.0)


def test_plan_shape(spark, pages):
    """One exchange (the url window); Python only in the signature
    projection BEFORE the shuffle — signatures travel, text doesn't."""
    plan = content_drift(pages)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"^\s*[+\-:* ]*Exchange\b", plan, re.M)) == 1
    # the Arrow fold runs before the exchange: everything after the
    # window must be JVM-only. Cheap structural proxy: exactly one
    # Python node in the whole plan.
    assert len(re.findall(r"ArrowEvalPython|BatchEvalPython", plan)) == 1


def test_redrift_equals_full_recompute(spark, pages):
    """Late-crawl repair: splice equals a full recompute, and untouched
    urls' rows are the PHYSICALLY kept originals."""
    from series_correction_project_updated_spark.operators.drift import redrift_urls

    # initial store built WITHOUT url a's second crawl; it arrives late
    late = pages.where("url = 'a' AND warc_ts = timestamp'2024-01-02 00:00:00'")
    initial = pages.exceptAll(late)
    old = content_drift(initial)
    repaired = redrift_urls(pages, late, old)
    full = content_drift(pages)
    key = ["url", "t", "exact_hash"]
    got = repaired.toPandas().sort_values(key).reset_index(drop=True)
    want = full.toPandas().sort_values(key).reset_index(drop=True)
    assert got[["url", "t", "change"]].equals(want[["url", "t", "change"]])
    assert got["hamming"].astype("Float64").equals(want["hamming"].astype("Float64"))
    # only url 'a' was recomputed: b/c rows flow through the anti-join arm
    assert repaired.count() == full.count()


def test_clustered_path_exchange_free_over_bucketed_store(spark, tmp_path):
    """Over a url-bucketed page store the clustered path plans ZERO
    exchanges (scan -> one mapInPandas) and matches the window path's
    classification exactly. The window path cannot do this: an
    ArrowEvalPython projection does not propagate the bucketed scan's
    partitioning (measured — it re-shuffles even over the bucketed
    table), which is why the kernel-style fast path exists."""
    import re as _re

    from series_correction_project_updated_spark.sources.bucketstore import (
        read_points_bucketed,
        write_points_bucketed,
    )
    from series_correction_project_updated_spark.sources.synth import generate_pages

    pages = generate_pages(spark, n_urls=15, samples_per_url=8)
    write_points_bucketed(
        pages, "pages_drift_b", buckets=4, key_col="url", time_col="warc_ts",
        path=str(tmp_path / "store"),
    )
    back = read_points_bucketed(spark, "pages_drift_b")
    fast = content_drift(back, assume_clustered=True)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert len(_re.findall(r"^\s*[+\-:* ]*Exchange\b", plan, _re.M)) == 0
    got = sorted(
        map(tuple, fast.select("url", "t", "change", "hamming").collect())
    )
    want = sorted(
        (r["url"], r["t"].timestamp(), r["change"], r["hamming"])
        for r in content_drift(pages).select("url", "t", "change", "hamming").collect()
    )
    assert got == want
    spark.sql("DROP TABLE IF EXISTS pages_drift_b")

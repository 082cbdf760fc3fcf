"""Heavy-hitters tier: exact when every bucket fits, lo/hi bound
invariants under truncation, absent-item err bound, JVM-only plan."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from series_correction_project_updated_spark.operators.topk import topk_rollup


def _events(spark, seed=23, n=20000, n_items=120):
    """Zipf-ish item draws over 6 hours of 1m buckets."""
    rng = np.random.default_rng(seed)
    items = [f"item{i:03d}" for i in range(n_items)]
    p = 1.0 / np.arange(1, n_items + 1)
    p /= p.sum()
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                1.7e9 + rng.uniform(0, 6 * 3600, n), unit="s"
            ).floor("us"),
            "event_type": rng.choice(items, size=n, p=p),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _exact(pdf, sec):
    t = pdf["ts"].astype("int64") / 1e9
    b = (np.floor(t / sec) * sec).astype("int64")
    return (
        pd.DataFrame({"bucket_start": b, "item": pdf["event_type"]})
        .groupby(["bucket_start", "item"])
        .size()
    )


def test_exact_when_everything_fits(spark):
    df, pdf = _events(spark, n=5000, n_items=30)
    direct = topk_rollup(df, "1h", m=64).toPandas()
    exact = _exact(pdf, 3600)
    assert len(direct) > 0
    for _, a in direct.iterrows():
        assert a["n"] == exact[exact.index.get_level_values(0) == a["bucket_start"]].sum()
        assert a["err"] == 0.0
        ia = [(x["item"], x["lo"], x["hi"]) for x in a["items"]]
        assert len(ia) == (exact.index.get_level_values(0) == a["bucket_start"]).sum()
        for item, lo, hi in ia:
            assert lo == hi == exact[(a["bucket_start"], item)]


def test_bounds_hold_under_truncation(spark):
    df, pdf = _events(spark)
    tier = topk_rollup(df, "1h", m=8).toPandas()
    exact = _exact(pdf, 3600)
    assert (tier["err"] > 0).any()  # truncation actually exercised
    for _, row in tier.iterrows():
        b = row["bucket_start"]
        kept = set()
        for x in row["items"]:
            true = exact.get((b, x["item"]), 0)
            assert x["lo"] <= true <= x["hi"], (b, x["item"], x["lo"], true, x["hi"])
            kept.add(x["item"])
        # absent items bounded by err
        for (bb, item), true in exact.items():
            if bb == b and item not in kept:
                assert true <= row["err"], (b, item, true, row["err"])


def test_keyed_variant_and_plan(spark):
    df, _ = _events(spark, n=4000)
    df = df.withColumn("user_id", (F.xxhash64("ts") % 5).cast("string"))
    tier = topk_rollup(df, "1h", m=5, key_col="user_id")
    out = tier.toPandas()
    assert {"user_id", "bucket_start", "items", "err", "n"} <= set(out.columns)
    assert out["n"].sum() == 4000
    plan = tier._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan

"""Deterministic corpus sampling: hash-Bernoulli rate/nesting/coordination,
split exhaustiveness, bottom-k exactness + KMV merge law, weighted A-ES
vs a numpy reference on the same hash uniforms, and the WindowGroupLimit
(map-side top-k) plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from series_correction_project_updated_spark.operators.sampling import (
    _U_MIN,
    _hash_u,
    bottom_k_sample,
    hash_bernoulli,
    hash_split,
    weighted_bottom_k,
)


@pytest.fixture(scope="module")
def docs(spark):
    """10k docs over 7 domains with a deterministic positive weight."""
    return (
        spark.range(10_000)
        .select(
            (F.col("id") % 7).alias("domain"),
            F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
            ((F.col("id") % 13) + 1).cast("double").alias("wt"),
        )
        .cache()
    )


def test_bernoulli_rate_bounds_and_determinism(docs):
    n = docs.count()
    s = hash_bernoulli(docs, 0.1, ["doc_id"])
    got = s.count()
    # binomial(10000, 0.1): mean 1000, sd 30 — 6 sigma
    assert abs(got - 0.1 * n) < 180
    # identical across invocations AND partitionings (df.sample is neither)
    a = sorted(r.doc_id for r in s.collect())
    b = sorted(
        r.doc_id for r in hash_bernoulli(docs.repartition(16), 0.1, ["doc_id"]).collect()
    )
    assert a == b
    assert hash_bernoulli(docs, 0.0, ["doc_id"]).count() == 0
    assert hash_bernoulli(docs, 1.0, ["doc_id"]).count() == n


def test_bernoulli_nested_and_salted(docs):
    small = {r.doc_id for r in hash_bernoulli(docs, 0.05, ["doc_id"]).collect()}
    big = {r.doc_id for r in hash_bernoulli(docs, 0.25, ["doc_id"]).collect()}
    assert small <= big  # raising the rate only ADDS documents
    other = {r.doc_id for r in hash_bernoulli(docs, 0.05, ["doc_id"], salt=7).collect()}
    assert other != small  # a new salt is a fresh draw
    assert abs(len(other) - 500) < 180


def test_bernoulli_coordinated_across_tables(docs, spark):
    """Two tables sharing doc_id sample to JOINABLE subsets (coordinated
    sampling): the sampled halves of a split join back to exactly the
    sampled whole."""
    meta = docs.select("doc_id", F.length("doc_id").alias("extra"))
    s_docs = {r.doc_id for r in hash_bernoulli(docs, 0.2, ["doc_id"]).collect()}
    s_meta = {r.doc_id for r in hash_bernoulli(meta, 0.2, ["doc_id"]).collect()}
    assert s_docs == s_meta


def test_hash_split_exhaustive_disjoint(docs):
    sp = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}, ["doc_id"])
    counts = {r.split: r["count"] for r in sp.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()  # exhaustive
    assert abs(counts["train"] - 8000) < 240 and abs(counts["val"] - 1000) < 180
    # split == bernoulli prefix: train is exactly the u < 0.8 sample
    tr = {r.doc_id for r in sp.where(F.col("split") == "train").collect()}
    be = {r.doc_id for r in hash_bernoulli(docs, 0.8, ["doc_id"]).collect()}
    assert tr == be


def test_hash_split_validation(docs):
    with pytest.raises(ValueError):
        hash_split(docs, {"a": 0.5, "b": 0.4}, ["doc_id"])  # sums to 0.9
    with pytest.raises(ValueError):
        hash_split(docs, {"a": 1.5, "b": -0.5}, ["doc_id"])  # negative
    with pytest.raises(ValueError):
        hash_split(docs, {"a": 1.0}, ["doc_id"], split_col="doc_id")  # collision
    with pytest.raises(ValueError):
        hash_bernoulli(docs, 1.5, ["doc_id"])
    with pytest.raises(ValueError):
        hash_bernoulli(docs, 0.5, [])
    with pytest.raises(ValueError):
        bottom_k_sample(docs, 0, "domain", ["doc_id"])


def test_bottom_k_exact_counts_subset_nested(docs):
    bk = bottom_k_sample(docs, 5, "domain", ["doc_id"])
    counts = {r.domain: r["count"] for r in bk.groupBy("domain").count().collect()}
    assert counts == {d: 5 for d in range(7)}
    all_ids = {r.doc_id for r in docs.collect()}
    assert {r.doc_id for r in bk.collect()} <= all_ids
    # short keys pass through whole
    tiny = docs.where(F.col("doc_id").isin("doc-0", "doc-7"))
    assert bottom_k_sample(tiny, 5, "domain", ["doc_id"]).count() == 2
    # nested in k
    k3 = {r.doc_id for r in bottom_k_sample(docs, 3, "domain", ["doc_id"]).collect()}
    k8 = {r.doc_id for r in bottom_k_sample(docs, 8, "domain", ["doc_id"]).collect()}
    assert k3 <= k8
    # partition invariance
    rep = {
        r.doc_id
        for r in bottom_k_sample(docs.repartition(16), 5, "domain", ["doc_id"]).collect()
    }
    assert rep == {r.doc_id for r in bk.collect()}


def test_bottom_k_kmv_merge_law(docs):
    """bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) — per-shard
    samples merge exactly, the property that makes the sample a sketch."""
    a = docs.where(F.col("doc_id").substr(5, 10).cast("long") % 2 == 0)
    b = docs.where(F.col("doc_id").substr(5, 10).cast("long") % 2 == 1)
    whole = {r.doc_id for r in bottom_k_sample(docs, 6, "domain", ["doc_id"]).collect()}
    merged = bottom_k_sample(
        bottom_k_sample(a, 6, "domain", ["doc_id"]).unionByName(
            bottom_k_sample(b, 6, "domain", ["doc_id"])
        ),
        6,
        "domain",
        ["doc_id"],
    )
    assert {r.doc_id for r in merged.collect()} == whole


def test_weighted_matches_numpy_reference(docs):
    """The operator's pick per key must equal an independent numpy A-ES
    computation (top-k of ln(u)/w) on the SAME hash uniforms."""
    pdf = docs.withColumn("u", _hash_u(["doc_id"], 3)).toPandas()
    want = set()
    for _, grp in pdf.groupby("domain"):
        key = np.log(np.maximum(grp["u"].to_numpy(), _U_MIN)) / grp["wt"].to_numpy()
        top = grp["doc_id"].to_numpy()[np.argsort(-key, kind="stable")[:4]]
        want.update(top)
    got = {
        r.doc_id
        for r in weighted_bottom_k(docs, 4, "domain", "wt", ["doc_id"], salt=3).collect()
    }
    assert got == want


def test_weighted_excludes_nonpositive_null_and_nan(spark):
    """NaN weights need their own exclusion (r4 code-review find): Spark
    orders NaN above every number, so `wt > 0` is TRUE for NaN and its
    NaN sort key would rank FIRST, crowding out the whole per-key pick."""
    df = spark.createDataFrame(
        [
            ("k", "a", 1.0),
            ("k", "b", 0.0),
            ("k", "c", -2.0),
            ("k", "d", None),
            ("k", "e", float("nan")),
            ("k", "f", float("nan")),
        ],
        "domain string, doc_id string, wt double",
    )
    out = weighted_bottom_k(df, 2, "domain", "wt", ["doc_id"])
    assert [r.doc_id for r in out.collect()] == ["a"]


def test_nan_weight_and_rn_collision_validation(docs, spark):
    with pytest.raises(ValueError):  # NaN sums pass neither check silently
        hash_split(docs, {"a": float("nan"), "b": 0.5}, ["doc_id"])
    carrying = docs.withColumn("__rn", F.lit(1))
    with pytest.raises(ValueError):  # would silently drop the caller's column
        bottom_k_sample(carrying, 3, "domain", ["doc_id"])
    with pytest.raises(ValueError):
        weighted_bottom_k(carrying, 3, "domain", "wt", ["doc_id"])


def test_bernoulli_streaming_equals_batch(spark, tmp_path):
    """hash_bernoulli is a stateless pure filter, so it runs unchanged on
    a streaming DataFrame — and because the randomness is the hash, the
    LIVE path keeps exactly the rows the batch path keeps (the property a
    corpus pipeline needs: a doc sampled at ingest time stays sampled in
    every later batch rebuild)."""
    src = str(tmp_path / "sample_src")
    batch = spark.range(2000).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        (F.col("id") % 5).alias("domain"),
    )
    batch.write.parquet(src)
    stored = spark.read.parquet(src)
    stream = spark.readStream.schema(stored.schema).parquet(src)
    q = (
        hash_bernoulli(stream, 0.25, ["doc_id"])
        .writeStream.format("memory")
        .queryName("sample_sink")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    live = {r.doc_id for r in spark.table("sample_sink").collect()}
    want = {r.doc_id for r in hash_bernoulli(stored, 0.25, ["doc_id"]).collect()}
    assert live == want and 0 < len(live) < 2000


def test_window_group_limit_plan_shape(docs):
    """The row_number ≤ k filter must plan a PARTIAL WindowGroupLimit
    below the exchange — per-task top-k before any shuffle, the shape
    that bounds wire cost at k rows per key per task."""
    for op in (
        bottom_k_sample(docs, 5, "domain", ["doc_id"]),
        weighted_bottom_k(docs, 5, "domain", "wt", ["doc_id"]),
    ):
        plan = op._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan and "Partial" in plan
        i_partial = plan.index("Partial")
        i_exchange = plan.index("Exchange")
        assert i_partial > i_exchange  # partial limit is BELOW the exchange


def test_portable_mode_matches_law(docs):
    """portable=True swaps only the hash primitive: rates still hold
    approximately, nesting and split exhaustiveness exactly, and the
    portable draw differs from the xxhash64 draw (it is a different
    hash, not a reseed)."""
    a = set(r["doc_id"] for r in hash_bernoulli(docs, 0.2, ["doc_id"], salt=7, portable=True).select("doc_id").collect())
    b = set(r["doc_id"] for r in hash_bernoulli(docs, 0.05, ["doc_id"], salt=7, portable=True).select("doc_id").collect())
    assert b <= a  # nesting law holds in portable mode
    n = docs.count()
    assert 0.1 * n <= len(a) <= 0.3 * n

    xx = set(r["doc_id"] for r in hash_bernoulli(docs, 0.2, ["doc_id"], salt=7).select("doc_id").collect())
    assert a != xx  # genuinely different hash family

    lab = hash_split(docs, {"train": 0.8, "val": 0.2}, ["doc_id"], salt=3, portable=True)
    assert lab.count() == n
    assert set(r["split"] for r in lab.select("split").distinct().collect()) <= {"train", "val"}

    bk = bottom_k_sample(docs, 3, "domain", ["doc_id"], salt=0, portable=True)
    sizes = {r["domain"]: r["count"] for r in bk.groupBy("domain").count().collect()}
    assert all(v <= 3 for v in sizes.values())

"""Tests for dedup, similarity, textops, whitespace source, checkpoint
pipeline, level-shift chaining, and the streaming rollup."""

import os
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# --- dedup -------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near dup
        (3, "completely different content about spark sql engines at scale", "en"),
        (4, "short text", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_minhash_identical_docs_all_bands_match(spark, docs):
    from series_correction_project_updated_spark.operators.dedup import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(docs, num_hashes=32, bands=8).toPandas()
    exact = pairs[(pairs.doc_a == 0) & (pairs.doc_b == 1)]
    assert len(exact) == 1 and exact.iloc[0]["n_bands"] == 8
    # near-dup should share at least one band; unrelated docs none
    assert not ((pairs.doc_a == 0) & (pairs.doc_b == 3)).any()


def test_minhash_jaccard_estimate(spark, docs):
    from series_correction_project_updated_spark.operators.dedup import minhash_jaccard_estimate

    est = minhash_jaccard_estimate(docs, num_hashes=64).toPandas()
    e01 = est[(est.doc_a == 0) & (est.doc_b == 1)]["jaccard_est"].iloc[0]
    assert e01 == 1.0
    e03 = est[(est.doc_a == 0) & (est.doc_b == 3)]["jaccard_est"].iloc[0]
    assert e03 < 0.3


def test_simhash_exact_dup_same_signature(spark, docs):
    from series_correction_project_updated_spark.operators.dedup import simhash_signatures

    sig = simhash_signatures(docs).toPandas().set_index("doc_id")["simhash"]
    assert sig[0] == sig[1]


def test_simhash_deterministic_across_runs(spark, docs):
    from series_correction_project_updated_spark.operators.dedup import simhash_signatures

    a = simhash_signatures(docs).toPandas().sort_values("doc_id")["simhash"].tolist()
    b = simhash_signatures(docs).toPandas().sort_values("doc_id")["simhash"].tolist()
    assert a == b


# --- similarity -------------------------------------------------------------


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(42)
    base = rng.standard_normal((30, 16)).astype("float32")
    base[1] = base[0] + rng.standard_normal(16).astype("float32") * 0.01  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_finds_near_dup(spark, vectors):
    from series_correction_project_updated_spark.operators.similarity import cosine_topk

    q = vectors.where(F.col("vec_id") == 0)
    top = cosine_topk(vectors, q, k=3).toPandas()
    assert top.iloc[0]["neighbor_id"] == 1
    assert top.iloc[0]["cosine"] > 0.99


def test_lsh_topk_recall_vs_exact(spark, vectors):
    from series_correction_project_updated_spark.operators.similarity import cosine_topk, lsh_topk

    q = vectors.where(F.col("vec_id") < 5)
    exact = cosine_topk(vectors, q, k=1).toPandas().set_index("query_id")["neighbor_id"]
    approx = lsh_topk(vectors, q, dim=16, k=1, n_planes=4).toPandas().set_index("query_id")["neighbor_id"]
    # with 4 planes buckets are big; top-1 recall should be decent on 30 vecs
    hits = sum(int(approx.get(qid, -1) == exact[qid]) for qid in exact.index)
    assert hits >= 3


def test_ivf_topk_recall_vs_exact(spark, vectors):
    from series_correction_project_updated_spark.operators.similarity import cosine_topk, ivf_topk

    q = vectors.where(F.col("vec_id") < 5)
    exact = cosine_topk(vectors, q, k=1).toPandas().set_index("query_id")["neighbor_id"]
    approx = (
        ivf_topk(vectors, q, k=1, n_centroids=4, nprobe=2)
        .toPandas()
        .set_index("query_id")["neighbor_id"]
    )
    hits = sum(int(approx.get(qid, -1) == exact[qid]) for qid in exact.index)
    assert hits >= 4  # nprobe=2 of 4 cells on 30 vecs: near-exact recall
    # near-dup pair must be found regardless of cell boundaries
    top0 = ivf_topk(vectors, vectors.where(F.col("vec_id") == 0), k=1, n_centroids=4, nprobe=2)
    assert top0.toPandas().iloc[0]["neighbor_id"] == 1


def test_ivf_centroids_deterministic(spark, vectors):
    from series_correction_project_updated_spark.operators.similarity import train_ivf_centroids

    a = train_ivf_centroids(vectors, n_centroids=4, seed=7)
    b = train_ivf_centroids(vectors, n_centroids=4, seed=7)
    assert np.array_equal(a, b)
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0)


def test_embedding_near_dup(spark, vectors):
    from series_correction_project_updated_spark.operators.similarity import embedding_near_dup

    pairs = embedding_near_dup(vectors, dim=16, threshold=0.95, n_planes=6).toPandas()
    assert ((pairs.vec_a == 0) & (pairs.vec_b == 1)).any()


# --- textops ------------------------------------------------------------------


def test_langid_and_quality_and_fingerprint(spark):
    from series_correction_project_updated_spark.operators.textops import (
        fingerprint,
        langid_heuristic,
        quality_scores,
    )

    rows = [
        (0, "the cat and the dog went to the park in a hurry for the ball"),
        (1, "der Hund und die Katze sind nicht mit der Maus zu den Haus"),
        (2, "el perro y el gato no es una cosa con los otros para que"),
        (3, "xyzzy plugh"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pred = langid_heuristic(docs).toPandas().set_index("doc_id")["lang_pred"]
    assert pred[0] == "en" and pred[1] == "de" and pred[2] == "es" and pred[3] == "und"

    q = quality_scores(docs).toPandas()
    assert (q["quality"] >= 0).all() and (q["quality"] <= 1).all()
    assert q.set_index("doc_id").loc[0, "stopword_ratio"] > 0.2

    # fingerprint invariant under whitespace normalization
    a = spark.createDataFrame([(0, "hello   world"), (1, "hello world")], "doc_id long, text string")
    fp = fingerprint(a).toPandas()["fingerprint"]
    assert fp[0] == fp[1]


# --- whitespace source ---------------------------------------------------------


def test_whitespace_reader_matches_reference_loader_shape(spark, tmp_path):
    from series_correction_project_updated_spark.sources.whitespace import read_sensor_files

    f = tmp_path / "S26_Y01.txt"
    f.write_text("# comment line\n1.0 2.5 3.5\n\n2.0 2.6 bad\n3.0 2.7 3.7\n")
    df = read_sensor_files(spark, str(tmp_path / "*.txt")).toPandas()
    assert list(df.columns) == ["series", "year_idx", "Time (Seconds)", "Value2", "Value3"]
    assert df["series"].iloc[0] == "26" and df["year_idx"].iloc[0] == 1
    assert len(df) == 3
    d = df.sort_values("Time (Seconds)").reset_index(drop=True)
    assert d["Value2"].tolist() == [2.5, 2.6, 2.7]
    assert np.isnan(d["Value3"].iloc[1])  # 'bad' -> null (to_numeric coerce)


# --- checkpoint / pipeline -----------------------------------------------------


def test_checkpoint_resume_skips_completed(spark, tmp_path):
    from series_correction_project_updated_spark.plans.checkpoint import (
        completed_buckets,
        run_with_checkpoints,
    )

    pdf = pd.DataFrame(
        {
            "series_key": [f"u{i}" for i in range(40) for _ in range(3)],
            "t": [float(j) for _ in range(40) for j in range(3)],
            "value": 1.0,
        }
    )
    points = spark.createDataFrame(pdf)
    out = str(tmp_path / "job")
    calls = []

    def transform(df):
        calls.append(1)
        return df

    n1 = run_with_checkpoints(spark, points, transform, out, "job1", n_buckets=8, buckets_per_wave=4)
    assert n1 == 8
    assert sorted(completed_buckets(spark, out, "job1")) == list(range(8))
    n2 = run_with_checkpoints(spark, points, transform, out, "job1", n_buckets=8, buckets_per_wave=4)
    assert n2 == 0  # fully resumed, nothing re-run
    got = spark.read.parquet(os.path.join(out, "data"))
    assert got.count() == 120


def test_run_pipeline_end_to_end(spark, tmp_path):
    from series_correction_project_updated_spark.operators.compress import compress_rollup
    from series_correction_project_updated_spark.plans.pipeline import run_pipeline
    from series_correction_project_updated_spark.sources.synth import generate_pages

    pages = generate_pages(spark, n_urls=10, samples_per_url=60)
    out = tmp_path / "out"
    summary = run_pipeline(spark, pages, str(out))
    # each output is written once: no staging directory is left behind
    assert sorted(os.listdir(out)) == [
        "compressed_1m", "lineage", "metrics", "rollup_1d", "rollup_1h", "rollup_1m"
    ]
    assert summary["corrected_points"] > 0
    assert set(summary["tier_counts"]) == {"1m", "1h", "1d"}
    for tier, n in summary["tier_counts"].items():
        assert n == spark.read.parquet(str(out / f"rollup_{tier}")).count(), tier
    fine = spark.read.parquet(str(out / "rollup_1m"))
    assert summary["corrected_points"] == fine.agg(F.sum("cnt")).collect()[0][0]
    comp = spark.read.parquet(str(out / "compressed_1m"))
    payload, n_points = comp.agg(F.sum(F.length("payload")), F.sum("n_points")).collect()[0]
    assert summary["compressed_bytes_per_point"] == payload / n_points
    # the serve law: the written chunks are compress_rollup of the written tier
    by = ["series_key", "chunk_start"]
    pd.testing.assert_frame_equal(
        comp.toPandas().sort_values(by).reset_index(drop=True),
        compress_rollup(fine, "1m").toPandas().sort_values(by).reset_index(drop=True),
    )
    lineage = spark.read.parquet(str(out / "lineage"))
    assert lineage.where(F.col("step") == "gaps").count() == 10
    assert summary["corrected_rows"] == (
        lineage.where(F.col("step") == "gaps").agg(F.sum("n_rows_out")).collect()[0][0]
    )
    metrics = spark.read.parquet(str(out / "metrics"))
    assert metrics.count() == 1


@pytest.mark.parametrize("source", ["local", "parquet"])
def test_run_pipeline_on_empty_input(spark, tmp_path, source):
    """An empty pages input writes every output empty, with its schema, and
    returns zero counts (an empty kernel output must not lose the
    kernel-input observation)."""
    from series_correction_project_updated_spark.plans.pipeline import run_pipeline
    from series_correction_project_updated_spark.schema import COMPRESSED, LINEAGE, ROLLUP

    pages = spark.createDataFrame([], "url string, warc_ts timestamp, signal double")
    if source == "parquet":
        pages.write.parquet(str(tmp_path / "pages"))
        pages = spark.read.parquet(str(tmp_path / "pages"))
    out = tmp_path / "out"
    summary = run_pipeline(spark, pages, str(out))
    assert summary["tier_counts"] == {"1m": 0, "1h": 0, "1d": 0}
    for key in (
        "corrected_points", "corrected_rows", "gaps_filled", "outliers_replaced",
        "jumps_corrected", "null_key_rows_dropped", "rolled_points_total",
    ):
        assert summary[key] == 0, key
    schemas = {
        "lineage": LINEAGE, "compressed_1m": COMPRESSED,
        **{f"rollup_{t}": ROLLUP for t in ("1m", "1h", "1d")},
    }
    for name, schema in schemas.items():
        df = spark.read.parquet(str(out / name))
        assert df.schema.simpleString() == schema.simpleString(), name
        assert df.count() == 0, name
    assert spark.read.parquet(str(out / "metrics")).count() == 1


def test_run_pipeline_compresses_the_finest_tier(spark, tmp_path):
    from series_correction_project_updated_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from series_correction_project_updated_spark.sources.synth import generate_pages

    pages = generate_pages(spark, n_urls=4, samples_per_url=60)
    out = tmp_path / "out"
    summary = run_pipeline(spark, pages, str(out), PipelineConfig(tiers=("1h", "1d")))
    assert sorted(os.listdir(out)) == [
        "compressed_1h", "lineage", "metrics", "rollup_1d", "rollup_1h"
    ]
    comp = spark.read.parquet(str(out / "compressed_1h"))
    assert comp.select("tier").distinct().collect()[0][0] == "1h"
    assert comp.agg(F.sum("n_points")).collect()[0][0] == summary["tier_counts"]["1h"]


def test_run_pipeline_domain_counters(spark, tmp_path):
    """One series with a planted 5-sample gap, a spike and a level step,
    plus one page with a null url."""
    from series_correction_project_updated_spark.plans.pipeline import run_pipeline

    t = [60.0 * i for i in range(20)] + [60.0 * i + 300.0 for i in range(20, 40)]
    v = [1.0] * 25 + [5.0] * 15
    v[10] = 50.0
    pdf = pd.DataFrame(
        {
            "url": ["a"] * 40 + [None],
            "warc_ts": pd.to_datetime(t + [120.0], unit="s"),
            "signal": v + [7.0],
        }
    )
    pages = spark.createDataFrame(pdf, "url string, warc_ts timestamp, signal double")
    summary = run_pipeline(spark, pages, str(tmp_path / "out"))
    assert summary["null_key_rows_dropped"] == 1
    assert summary["gaps_filled"] == 5
    assert summary["outliers_replaced"] == 1
    assert summary["jumps_corrected"] == 1
    assert summary["corrected_rows"] == summary["corrected_points"] == 45
    assert summary["tier_counts"] == {"1m": 45, "1h": 1, "1d": 1}


def test_run_pipeline_branch_failure_propagates_after_all_branches(spark, tmp_path, monkeypatch):
    """A failing write branch (here the coarser-tier chain) makes
    ``run_pipeline`` raise its error, but only once the other branches have
    finished; the kernel cache is released and no branch thread is left."""
    import threading

    from series_correction_project_updated_spark.plans import pipeline
    from series_correction_project_updated_spark.sources.synth import generate_pages

    def boom(lower, name):
        raise RuntimeError(f"cascade to {name} failed")

    monkeypatch.setattr(pipeline, "cascade", boom)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    out = tmp_path / "out"
    with pytest.raises(RuntimeError, match="cascade to 1h failed"):
        pipeline.run_pipeline(spark, generate_pages(spark, n_urls=4, samples_per_url=60), str(out))
    # the sibling branches ran to their commit before the error surfaced
    for name in ("rollup_1m", "lineage", "compressed_1m"):
        assert (out / name / "_SUCCESS").exists(), name
    assert not (out / "rollup_1h").exists()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert [t.name for t in threading.enumerate() if t.name.startswith("run_pipeline")] == []


def test_run_pipeline_writes_one_file_per_core_at_most(spark, tmp_path):
    """Every cached side is written in one wave of tasks: with more kernel
    buckets than cores, each side holds at most ``defaultParallelism``
    part files. The caller's job group covers the jobs of every branch."""
    from series_correction_project_updated_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from series_correction_project_updated_spark.sources.synth import generate_pages

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    out = tmp_path / "out"
    pages = generate_pages(spark, n_urls=40, samples_per_url=60)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("one_build_op", "run_pipeline under a job group")
    try:
        summary = run_pipeline(spark, pages, str(out), PipelineConfig(n_buckets=2 * cores + 1))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped
    assert len(sc.statusTracker().getJobIdsForGroup("one_build_op")) >= 6
    assert summary["tier_counts"]["1m"] > 0
    for name in ("lineage", "rollup_1m", "compressed_1m"):
        parts = [f for f in os.listdir(out / name) if f.startswith("part-")]
        assert 1 <= len(parts) <= cores, (name, parts)


# --- chunked correction + boundary alignment -----------------------------------


def test_chunked_correction_alignment(spark):
    from series_correction_project_updated_spark.operators.correct import correct_series_chunked

    # two chunks with a level offset between them; alignment should remove it
    t = [float(i * 3600) for i in range(48)]
    v = [5.0 + (0.01 * (i % 5)) for i in range(24)] + [8.0 + (0.01 * (i % 5)) for i in range(24)]
    pdf = pd.DataFrame({"series_key": "s", "t": t, "value": v})
    out = correct_series_chunked(
        spark.createDataFrame(pdf), chunk_sec=86400.0
    ).orderBy("t").toPandas()
    # after alignment the day-2 head should sit at day-1 tail level (~5.02)
    assert abs(out["value"].iloc[24] - out["value"].iloc[23]) < 0.1


# --- streaming rollup -----------------------------------------------------------


def test_streaming_rollup_matches_batch(spark, tmp_path):
    from series_correction_project_updated_spark.sources.synth import generate_pages
    from series_correction_project_updated_spark.streaming.rollup_stream import (
        run_stream_to_parquet,
        streaming_rollup,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, n_urls=5, samples_per_url=30)
    pages.write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = run_stream_to_parquet(streaming_rollup(stream, "1h"), out, ckpt)
    q.processAllAvailable()
    q.stop()
    # watermark holds back the last open window(s) in append mode; everything
    # emitted must match the batch aggregate for the same buckets
    got = spark.read.parquet(out)
    batch = (
        pages.groupBy(F.col("url").alias("series_key"), F.window("warc_ts", "1 hour").alias("w"))
        .agg(F.count("signal").alias("cnt"))
        .select("series_key", F.unix_timestamp("w.start").alias("bucket_start"), "cnt")
    )
    joined = got.select("series_key", "bucket_start", "cnt").join(
        batch.withColumnRenamed("cnt", "cnt_b"), ["series_key", "bucket_start"]
    )
    mism = joined.where(F.col("cnt") != F.col("cnt_b")).count()
    assert mism == 0
    assert got.count() > 0


# --- fused rollup+lineage single-pass kernel ----------------------------------


def test_fused_rollup_lineage_matches_staged(spark):
    from series_correction_project_updated_spark.operators.compress import compress_rollup
    from series_correction_project_updated_spark.operators.correct import (
        correct_and_rollup,
        correct_rollup_lineage,
    )
    from series_correction_project_updated_spark.oracle import correction as oracle
    from series_correction_project_updated_spark.schema import COMPRESSED
    from series_correction_project_updated_spark.sources.synth import (
        generate_pages,
        pages_to_series,
    )

    # besides the generated pages: a series over 16,384 one-minute buckets
    # (two chunks), an all-NaN series (null vsum) and a single-bucket series
    n_long = 17_000
    extra = pd.DataFrame(
        {
            "series_key": ["long"] * n_long + ["nan"] * 10 + ["single"],
            "t": [60.0 * i for i in range(n_long)] + [60.0 * i for i in range(10)] + [90.0],
            "value": [1.0 + 0.01 * (i % 7) for i in range(n_long)] + [np.nan] * 10 + [3.0],
        }
    )
    points = pages_to_series(generate_pages(spark, n_urls=8, samples_per_url=120)).unionByName(
        spark.createDataFrame(extra, "series_key string, t double, value double")
    )
    fused = correct_rollup_lineage(points, "1m", num_partitions=8).toPandas()

    roll_cols = ["series_key", "bucket_start", "cnt", "vsum", "vmin", "vmax", "vfirst", "vlast"]
    lin_cols = ["series_key", "step", "n_detected", "n_rows_in", "n_rows_out", "detail"]
    chunk_cols = COMPRESSED.fieldNames()
    got_roll = (
        fused[fused.row_kind == "rollup"][roll_cols]
        .astype({"bucket_start": "int64", "cnt": "int64"})
        .sort_values(roll_cols[:2])
        .reset_index(drop=True)
    )
    got_lin = (
        fused[fused.row_kind == "lineage"][lin_cols]
        .astype({c: "int64" for c in ("n_detected", "n_rows_in", "n_rows_out")})
        .sort_values(["series_key", "step"])
        .reset_index(drop=True)
    )
    got_chunks = (
        fused[fused.row_kind == "chunk"][chunk_cols]
        .astype({c: "int64" for c in ("chunk_start", "n_points", "t_min", "t_max")})
        .sort_values(["series_key", "chunk_start"])
        .reset_index(drop=True)
    )

    staged = correct_and_rollup(points, "1m", num_partitions=8)
    want_roll = staged.toPandas().sort_values(roll_cols[:2]).reset_index(drop=True)
    # the serve law: the kernel's chunks are compress_rollup of its tier
    want_chunks = (
        compress_rollup(staged, "1m").toPandas().sort_values(["series_key", "chunk_start"])
        .reset_index(drop=True)
    )
    # lineage reference: the frame pipeline per series, in pandas
    lin_rows = []
    for key, grp in points.toPandas().groupby("series_key"):
        _out, stats = oracle.process_series_with_stats(grp[["t", "value"]], "t", "value")
        lin_rows.extend((key, *row) for row in stats)
    want_lin = (
        pd.DataFrame(lin_rows, columns=lin_cols)
        .sort_values(["series_key", "step"])
        .reset_index(drop=True)
    )
    assert len(want_lin) == 3 * 11

    pd.testing.assert_frame_equal(got_roll, want_roll, check_dtype=False)
    pd.testing.assert_frame_equal(got_lin, want_lin, check_dtype=False)
    pd.testing.assert_frame_equal(got_chunks, want_chunks, check_dtype=False)
    per_key = got_chunks.groupby("series_key")["n_points"].agg(["size", "sum"])
    assert per_key.loc["long", "size"] == 2 and per_key.loc["long", "sum"] == n_long
    assert per_key.loc["single", "size"] == 1 and per_key.loc["single", "sum"] == 1
    assert got_roll.loc[got_roll.series_key == "nan", "vsum"].isna().all()
    assert per_key.loc["nan", "sum"] == 10


def test_pipeline_rejects_non_nested_tiers(spark, tmp_path):
    from series_correction_project_updated_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from series_correction_project_updated_spark.sources.synth import generate_pages

    pages = generate_pages(spark, n_urls=2, samples_per_url=10)
    with pytest.raises(ValueError, match="finest-to-coarsest"):
        run_pipeline(
            spark, pages, str(tmp_path / "bad"), PipelineConfig(tiers=("1h", "1m"))
        )


def test_hot_series_memory_bound_via_chunking(spark):
    """Pins the hot-series story documented in operators/correct.py: a
    series too hot for one task is processed as (series, time-chunk)
    segments hashed over many partitions — a task holds its partition, not
    the whole series — and realigned."""
    from series_correction_project_updated_spark.operators.correct import (
        correct_series_chunked,
    )

    n = 20_000  # one hot series spanning ~23 day-chunks
    # constant value: the detectors must find nothing in any chunk, so the
    # chunked path's only effect should be the (series, chunk) decomposition
    pdf = pd.DataFrame(
        {
            "series_key": "hot",
            "t": [float(i * 100) for i in range(n)],
            "value": 10.0,
        }
    )
    points = spark.createDataFrame(pdf)
    chunked = points.withColumn("chunk", (F.col("t") / F.lit(86400.0)).cast("long"))
    n_groups = chunked.select("series_key", "chunk").distinct().count()
    assert n_groups > 20  # the hot series spreads over many kernel groups

    result = correct_series_chunked(points, chunk_sec=86400.0)
    out = result.toPandas()
    # the operator itself splits the hot series: the kernel MapInPandas is
    # fed (through its in-partition sort) by an exchange hashing on
    # (series_key, chunk), no per-group frame path is planned, and the
    # final plan runs the kernel exactly once — both realignment branches
    # read its output through one reused exchange
    plan = result._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    kernels = [i for i, line in enumerate(lines) if "MapInPandas" in line]
    assert len(kernels) == 1, plan
    for i in kernels:
        assert re.search(
            r"Exchange hashpartitioning\(series_key#\d+, chunk#\d+L?, \d+\)",
            "\n".join(lines[i + 1 : i + 4]),
        ), plan
    assert "FlatMapGroupsInPandas" not in plan

    # nothing corrected away, no rows lost, values untouched
    assert len(out) == n
    assert (out["value"] == 10.0).all()


def test_streaming_gap_detect_matches_batch(spark, tmp_path):
    """The stateful streaming gap detector (applyInPandasWithState) must flag
    the same gaps as the batch detector when the reservoir holds the full
    delta history (single micro-batch, regular cadence with planted gaps)."""
    from series_correction_project_updated_spark.operators.correct import (
        detect_gaps_native,
    )
    from series_correction_project_updated_spark.streaming.gap_stream import (
        detect_gaps_stream,
    )

    rows = []
    for key in ("a", "b"):
        t = 0.0
        for i in range(60):
            t += 10.0 if i not in (20, 45) else 100.0  # two planted gaps
            rows.append((key, t, 1.0))
    pdf = pd.DataFrame(rows, columns=["series_key", "t", "value"])
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        detect_gaps_stream(stream, threshold_factor=3.0)
        .writeStream.format("memory")
        .queryName("gaps_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT * FROM gaps_stream")
        .toPandas()
        .sort_values(["series_key", "t"])
        .reset_index(drop=True)
    )
    want = (
        detect_gaps_native(spark.createDataFrame(pdf), threshold_factor=3.0)
        .toPandas()
        .sort_values(["series_key", "t"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) == 4  # 2 series × 2 planted gaps
    pd.testing.assert_frame_equal(got[["series_key", "t", "prev_t"]], want[["series_key", "t", "prev_t"]])


def test_minhash_jaccard_on_candidate_pairs(spark, docs):
    """The verify step over an explicit candidate-pair list (the scale path)
    must agree with the all-pairs estimate restricted to those pairs."""
    from series_correction_project_updated_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_jaccard_estimate,
    )

    cands = minhash_candidate_pairs(docs, num_hashes=32, bands=8)
    via_pairs = (
        minhash_jaccard_estimate(docs, num_hashes=64, candidate_pairs=cands)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
    )
    all_pairs = minhash_jaccard_estimate(docs, num_hashes=64).toPandas()
    assert len(via_pairs) == cands.count()
    merged = via_pairs.merge(all_pairs, on=["doc_a", "doc_b"], suffixes=("_p", "_a"))
    assert (merged["jaccard_est_p"] == merged["jaccard_est_a"]).all()
    # the exact dup pair must estimate 1.0
    exact = via_pairs[(via_pairs.doc_a == 0) & (via_pairs.doc_b == 1)]
    assert len(exact) == 1 and exact.iloc[0]["jaccard_est"] == 1.0


def test_streaming_gap_detect_out_of_order_rows(spark, tmp_path):
    """A late row (t earlier than the stored last_t) arriving in a LATER
    micro-batch must not regress per-key state: without the non-positive
    delta guard, last_t would jump back and the next on-time row would be
    flagged as a spurious gap (ADVICE r2)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from series_correction_project_updated_spark.streaming.gap_stream import (
        detect_gaps_stream,
    )

    src = tmp_path / "src_ooo"
    src.mkdir()
    schema = pa.schema(
        [("series_key", pa.string()), ("t", pa.float64()), ("value", pa.float64())]
    )

    def _write(name, ts, mtime):
        tbl = pa.table(
            {"series_key": ["a"] * len(ts), "t": ts, "value": [1.0] * len(ts)},
            schema=schema,
        )
        path = str(src / name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    now = time.time()
    # batch 1: regular 10s cadence up to t=300
    _write("part1.parquet", [float(t) for t in range(10, 310, 10)], now - 60)
    # batch 2: one LATE row (t=5 < last_t=300), then the cadence continues
    _write("part2.parquet", [5.0] + [float(t) for t in range(310, 610, 10)], now)

    stream = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        detect_gaps_stream(stream, threshold_factor=3.0)
        .writeStream.format("memory")
        .queryName("gaps_stream_ooo")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM gaps_stream_ooo").toPandas()
    # cadence is perfectly regular apart from the late row — no gaps at all;
    # the old behavior emitted a spurious (t=310, prev_t=5, delta=305) flag
    assert len(got) == 0, got.to_dict("records")


def test_simhash_arrow_fold_matches_reference_expr(spark, docs):
    """The vectorized Arrow bit-fold (production path) must be bit-identical
    to the single-expression HOF reference on real docs AND edge cases
    (null/empty text -> 0; negative token hashes exercise bit 0, where the
    r2 HOF had a sign bug: shiftrightunsigned(h,0)%2 is -1 for negative odd
    hashes)."""
    from pyspark.sql import functions as F

    from series_correction_project_updated_spark.operators.dedup import (
        simhash_expr,
        simhash_signatures,
    )

    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "   "), (9004, "one"), (9005, "a b a c")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    ref = both.select("doc_id", simhash_expr("text").alias("ref"))
    got = simhash_signatures(both).select("doc_id", "simhash")
    joined = ref.join(got, "doc_id")
    assert joined.where(F.col("ref") != F.col("simhash")).count() == 0
    nulls = dict(
        (r.doc_id, r.simhash)
        for r in got.where(F.col("doc_id").isin(9001, 9002, 9003)).collect()
    )
    assert nulls == {9001: 0, 9002: 0, 9003: 0}


def test_downsample_m4_properties(spark):
    """Per (series, bucket): ≤4 rows kept; the kept set contains the true
    first/last/min/max; deterministic under duplicate values (ties broken
    by time)."""
    from series_correction_project_updated_spark.operators.rollup import downsample_m4

    rows = []
    for key in ("a", "b"):
        for i in range(500):
            # duplicate values on purpose: v cycles through a small set
            rows.append((key, float(i * 10), float([3.0, 7.0, 7.0, 1.0, 5.0][i % 5])))
    pdf = pd.DataFrame(rows, columns=["series_key", "t", "value"])
    sdf = spark.createDataFrame(pdf)

    out1 = downsample_m4(sdf, 1000.0).orderBy("series_key", "bucket_start", "t").toPandas()
    out2 = downsample_m4(sdf, 1000.0).orderBy("series_key", "bucket_start", "t").toPandas()
    pd.testing.assert_frame_equal(out1, out2)  # deterministic under ties

    pdf["bucket_start"] = (pdf["t"] // 1000.0 * 1000.0).astype("int64")
    for (key, b), grp in pdf.groupby(["series_key", "bucket_start"]):
        kept = out1[(out1.series_key == key) & (out1.bucket_start == b)]
        assert 1 <= len(kept) <= 4
        assert grp["t"].min() in kept["t"].to_numpy()
        assert grp["t"].max() in kept["t"].to_numpy()
        assert grp["value"].min() in kept["value"].to_numpy()
        assert grp["value"].max() in kept["value"].to_numpy()


def test_asof_join_matches_merge_asof(spark):
    """operators.asof.asof_join vs pandas merge_asof (backward, inclusive)
    per key, including equal-timestamp matches and tolerance expiry."""
    from series_correction_project_updated_spark.operators.asof import asof_join

    rng = np.random.default_rng(3)
    left_rows, right_rows = [], []
    for key in ("a", "b", "c"):
        lt = np.sort(rng.choice(np.arange(0, 5000, 10.0), size=120, replace=False))
        rt = np.sort(rng.choice(np.arange(0, 5000, 10.0), size=25, replace=False))
        rt[0] = lt[5]  # force an equal-timestamp (inclusive) match
        left_rows += [(key, float(t), float(i)) for i, t in enumerate(lt)]
        right_rows += [(key, float(t), float(100 + i)) for i, t in enumerate(rt)]
    lpdf = pd.DataFrame(left_rows, columns=["series_key", "t", "value"])
    rpdf = pd.DataFrame(right_rows, columns=["series_key", "t", "quote"])

    got = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            tolerance=900.0,
        )
        .orderBy("series_key", "t")
        .toPandas()
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        lpdf.sort_values("t"),
        rpdf.sort_values("t"),
        on="t",
        by="series_key",
        direction="backward",
        tolerance=900.0,
    ).sort_values(["series_key", "t"]).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_series_equal(
        got["quote_asof"], want["quote"], check_names=False
    )
    assert got["quote_asof"].isna().any()  # tolerance expiry exercised
    # the forced equal-timestamp row matched (inclusive semantics)
    eq = got[(got.series_key == "a")].iloc[5]
    assert not pd.isna(eq["quote_asof"]) and eq["t_asof"] == eq["t"]


def _asof_fixture_pdfs(seed=7):
    rng = np.random.default_rng(seed)
    left_rows, right_rows = [], []
    for key in ("a", "b", "c"):
        lt = np.sort(rng.choice(np.arange(0, 5000, 10.0), size=100, replace=False))
        rt = np.sort(rng.choice(np.arange(0, 5000, 10.0), size=20, replace=False))
        rt[0] = lt[5]  # equal-timestamp row exercises allow_exact_matches
        left_rows += [(key, float(t), float(i)) for i, t in enumerate(lt)]
        right_rows += [(key, float(t), float(100 + i)) for i, t in enumerate(rt)]
    lpdf = pd.DataFrame(left_rows, columns=["series_key", "t", "value"])
    rpdf = pd.DataFrame(right_rows, columns=["series_key", "t", "quote"])
    return lpdf, rpdf


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("exact", [True, False])
def test_asof_join_directions_match_merge_asof(spark, direction, exact):
    """asof_join vs pandas merge_asof across all three directions and both
    allow_exact_matches settings (r3 verdict #7: full merge_asof surface)."""
    from series_correction_project_updated_spark.operators.asof import asof_join

    lpdf, rpdf = _asof_fixture_pdfs()
    got = (
        asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            tolerance=900.0,
            direction=direction,
            allow_exact_matches=exact,
        )
        .orderBy("series_key", "t")
        .toPandas()
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        lpdf.sort_values("t"),
        rpdf.sort_values("t"),
        on="t",
        by="series_key",
        direction=direction,
        tolerance=900.0,
        allow_exact_matches=exact,
    ).sort_values(["series_key", "t"]).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["quote_asof"], want["quote"], check_names=False)
    if direction != "nearest":  # one-sided search leaves some rows unmatched
        assert got["quote_asof"].isna().any()


def test_asof_join_tiebreaker_deterministic(spark):
    """Duplicate right rows at the same (key, t): the greatest-tiebreaker
    row wins in every direction (r3 ADVICE — without a tiebreaker the
    winner is partition-order-dependent)."""
    from series_correction_project_updated_spark.operators.asof import asof_join

    lpdf = pd.DataFrame({"series_key": ["a", "a"], "t": [10.0, 30.0], "value": [1.0, 2.0]})
    # three right rows at t=10 with distinct seq; greatest seq must win
    rpdf = pd.DataFrame(
        {
            "series_key": ["a"] * 3 + ["a"] * 3,
            "t": [10.0] * 3 + [40.0] * 3,
            "quote": [101.0, 102.0, 103.0, 201.0, 202.0, 203.0],
            "seq": [1, 2, 3, 1, 2, 3],
        }
    )
    for direction, t_expect, q_expect in [
        ("backward", {10.0: 103.0, 30.0: 103.0}, None),
        ("forward", {10.0: 103.0, 30.0: 203.0}, None),
        ("nearest", {10.0: 103.0, 30.0: 203.0}, None),
    ]:
        got = (
            asof_join(
                spark.createDataFrame(lpdf).repartition(4),
                spark.createDataFrame(rpdf).repartition(4),
                payload_cols=["quote"],
                direction=direction,
                tiebreaker="seq",
            )
            .orderBy("t")
            .toPandas()
        )
        for lt, want_q in t_expect.items():
            assert got[got.t == lt]["quote_asof"].iloc[0] == want_q, (direction, lt)


def test_downsample_m4_agg_equals_window_shape(spark):
    """The sort-free aggregate M4 must pick EXACTLY the same rows as the
    four-row_number window shape, including under duplicate timestamps
    and duplicate values (both total orders tie-break identically)."""
    from series_correction_project_updated_spark.operators.rollup import (
        downsample_m4,
        downsample_m4_agg,
    )

    rng = np.random.default_rng(5)
    rows = []
    for key in ("a", "b"):
        for i in range(4000):
            t = float(rng.integers(0, 40) * 250)  # heavy timestamp ties
            v = float(rng.integers(-3, 4))  # heavy value ties
            rows.append((key, t, v))
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["series_key", "t", "value"]))
    w = downsample_m4(pts, 1000.0)
    a = downsample_m4_agg(pts, 1000.0)
    assert w.exceptAll(a).count() == 0 and a.exceptAll(w).count() == 0
    assert w.count() > 0


def _lttb_naive(t, v, n_out):
    """Straightforward textbook LTTB (independent of the operator's
    vectorized implementation) for cross-checking."""
    n = len(t)
    if n_out >= n or n_out < 3:
        return list(range(n))
    edges = [int(i * (n - 2) / (n_out - 2)) + 1 for i in range(n_out - 1)]
    edges[-1] = n - 1
    out = [0]
    a = 0
    for i in range(n_out - 2):
        lo, hi = edges[i], edges[i + 1]
        if i == n_out - 3:
            nlo, nhi = hi, n - 1
        else:
            nlo, nhi = edges[i + 1], edges[i + 2]
        if nhi > nlo:
            avg_t = sum(t[nlo:nhi]) / (nhi - nlo)
            avg_v = sum(v[nlo:nhi]) / (nhi - nlo)
        else:
            avg_t, avg_v = t[n - 1], v[n - 1]
        best, best_area = lo, -1.0
        for k in range(lo, hi):
            area = abs((t[a] - avg_t) * (v[k] - v[a]) - (t[a] - t[k]) * (avg_v - v[a]))
            if area > best_area:
                best, best_area = k, area
        out.append(best)
        a = best
    out.append(n - 1)
    return out


def test_lttb_downsample_matches_naive_and_preserves_shape(spark):
    from series_correction_project_updated_spark.operators.rollup import (
        _lttb_indices,
        lttb_downsample,
    )

    rng = np.random.default_rng(23)
    # kernel vs naive reference on random series
    for _ in range(40):
        n = int(rng.integers(3, 400))
        n_out = int(rng.integers(3, 60))
        t = np.sort(rng.uniform(0, 1000, n))
        v = rng.normal(0, 1, n)
        assert _lttb_indices(t, v, n_out).tolist() == _lttb_naive(
            t.tolist(), v.tolist(), n_out
        )

    # Spark operator end-to-end: anchors, budget, time order, spike kept
    rows = []
    for key in ("a", "b"):
        t = np.arange(500, dtype=np.float64) * 10
        v = np.sin(t / 300.0)
        v[237] = 25.0  # a visually dominant spike LTTB must keep
        rows += [(key, float(tt), float(vv)) for tt, vv in zip(t, v)]
    pts = spark.createDataFrame(pd.DataFrame(rows, columns=["series_key", "t", "value"]))
    out = lttb_downsample(pts, 50).toPandas()
    for key, grp in out.groupby("series_key"):
        g = grp.sort_values("t")
        assert len(g) == 50
        assert g["t"].iloc[0] == 0.0 and g["t"].iloc[-1] == 4990.0
        assert g["t"].is_monotonic_increasing
        assert (g["value"] == 25.0).any(), key
    # short series pass through whole
    short = spark.createDataFrame(
        pd.DataFrame({"series_key": ["s"] * 5, "t": np.arange(5.0), "value": np.ones(5)})
    )
    assert lttb_downsample(short, 50).count() == 5


def test_redact_pii_rules_and_counts(spark):
    """PII scrub (training-data pipeline step): emails / IPv4 / card-like
    digit runs / phone numbers become typed placeholders, whitespace
    around them survives, clean text is untouched, and pii_hits counts
    redactions. Entirely JVM-side (no Python nodes in the plan)."""
    from series_correction_project_updated_spark.operators.textops import redact_pii

    rows = [
        (0, "contact me at john.doe+x@example.co.uk or 192.168.1.77 thanks"),
        (1, "card 4111 1111 1111 1111 exp 12/26, call +1 (415) 555-0199"),
        (2, "clean text with no private data at all"),
        (3, "two mails: a@b.io c@d.org and ip 10.0.0.1"),
        (4, "version 1.2.3.4.5 is not an ip but 8.8.8.8 is"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert out[0].text_redacted == "contact me at <EMAIL> or <IP> thanks"
    assert out[0].pii_hits == 2
    assert "<CARD> exp" in out[1].text_redacted and "<PHONE>" in out[1].text_redacted
    assert out[2].text_redacted == rows[2][1] and out[2].pii_hits == 0
    assert out[3].text_redacted.count("<EMAIL>") == 2 and "<IP>" in out[3].text_redacted
    assert out[3].pii_hits == 3
    assert "<IP> is" in out[4].text_redacted
    # no Python nodes: pure regexp_replace chain
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan


def test_asof_join_null_payloads_travel_with_their_row(spark):
    """A matched right row with NULL payload values must yield NULLs —
    per-column ignorenulls fills used to stitch older rows' values onto
    the newer match (r4 self-review). Mirrors merge_asof exactly."""
    from series_correction_project_updated_spark.operators.asof import asof_join

    lpdf = pd.DataFrame({"series_key": ["a"], "t": [12.0], "value": [1.0]})
    rpdf = pd.DataFrame(
        {
            "series_key": ["a", "a"],
            "t": [5.0, 10.0],
            "quote": [3.0, np.nan],
            "flag": [77.0, np.nan],
        }
    )
    for direction in ("backward", "nearest"):
        got = asof_join(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            payload_cols=["quote", "flag"],
            tolerance=4.0,
            direction=direction,
        ).collect()[0]
        assert got["t_asof"] == 10.0
        assert got["quote_asof"] is None or np.isnan(got["quote_asof"])
        assert got["flag_asof"] is None or np.isnan(got["flag_asof"])
    # forward symmetric case: nearest right at t=13 has null payload
    rpdf2 = pd.DataFrame(
        {"series_key": ["a", "a"], "t": [13.0, 20.0], "quote": [np.nan, 9.0], "flag": [np.nan, 1.0]}
    )
    got = asof_join(
        spark.createDataFrame(lpdf),
        spark.createDataFrame(rpdf2),
        payload_cols=["quote", "flag"],
        tolerance=4.0,
        direction="forward",
    ).collect()[0]
    assert got["t_asof"] == 13.0
    assert got["quote_asof"] is None or np.isnan(got["quote_asof"])

"""Streaming counter tier: closed buckets bit-equal the batch rollup
(float data, across micro-batch splits), out-of-order skip policy."""

import numpy as np
import pandas as pd

from series_correction_project_updated_spark.operators.counters import counter_rollup
from series_correction_project_updated_spark.streaming.counter_stream import counter_stream


def _counter_pdf(seed=13, n=400, keys=("a", "b", "c")):
    rng = np.random.default_rng(seed)
    frames = []
    for k in keys:
        inc = rng.exponential(3.0, n)  # float increments — bit-equality claim
        resets = rng.random(n) < 0.02
        v = np.empty(n)
        acc = 0.0
        for i in range(n):
            if resets[i]:
                acc = 0.0
            acc += inc[i]
            v[i] = acc
        frames.append(
            pd.DataFrame(
                {"series_key": k, "t": 1.7e9 + np.arange(n) * 13.0, "value": v}
            )
        )
    return pd.concat(frames, ignore_index=True)


def test_closed_buckets_bit_equal_batch(spark, tmp_path):
    """Two micro-batches; every CLOSED bucket must equal the batch
    counter_rollup row bit-for-bit — the streaming carry continues the
    same left fold, so even float association is identical."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = _counter_pdf()
    src = tmp_path / "src"
    src.mkdir()
    cut = len(pdf) // 2
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:cut]), str(src / "b0.parquet"))

    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = (
        counter_stream(stream, "1m")
        .writeStream.format("memory")
        .queryName("counter_stream_t")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    pq.write_table(pa.Table.from_pandas(pdf.iloc[cut:]), str(src / "b1.parquet"))
    q.processAllAvailable()
    q.stop()

    got = (
        spark.sql("SELECT * FROM counter_stream_t")
        .toPandas()
        .sort_values(["series_key", "bucket_start"])
        .reset_index(drop=True)
    )
    batch = (
        counter_rollup(spark.createDataFrame(pdf), "1m")
        .toPandas()
        .sort_values(["series_key", "bucket_start"])
        .reset_index(drop=True)
    )
    # the stream never closes each key's LAST bucket (nothing after it)
    open_buckets = batch.groupby("series_key")["bucket_start"].max()
    closed = batch[
        batch["bucket_start"] != batch["series_key"].map(open_buckets)
    ].reset_index(drop=True)
    assert len(got) == len(closed) > 30
    for col in got.columns:
        np.testing.assert_array_equal(
            got[col].to_numpy(), closed[col].to_numpy(), err_msg=col
        )


def test_closed_buckets_bit_equal_batch_fractional_t(spark, tmp_path):
    """Fractional timestamps: the stream quantizes t to µs with the batch
    operator's own cast chain, so first_t/last_t (and everything else)
    stay bit-equal to counter_rollup on every closed bucket."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = _counter_pdf()
    pdf["t"] = pdf["t"] + 0.1234567  # 1.7e9 + 13·i + 0.1234567: not µs-exact
    src = tmp_path / "src_frac"
    src.mkdir()
    cut = len(pdf) // 2
    for i, part in enumerate((pdf.iloc[:cut], pdf.iloc[cut:])):
        pq.write_table(pa.Table.from_pandas(part), str(src / f"b{i}.parquet"))

    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = (
        counter_stream(stream, "1m")
        .writeStream.format("memory")
        .queryName("counter_stream_frac")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    keys = ["series_key", "bucket_start"]
    got = spark.sql("SELECT * FROM counter_stream_frac").toPandas()
    got = got.sort_values(keys).reset_index(drop=True)
    batch = counter_rollup(spark.createDataFrame(pdf), "1m").toPandas()
    batch = batch.sort_values(keys).reset_index(drop=True)
    last = batch.groupby("series_key")["bucket_start"].transform("max")
    closed = batch[batch["bucket_start"] != last].reset_index(drop=True)
    assert len(got) == len(closed) > 30
    # the input really is off the µs grid: batch first_t is never a raw t
    assert not np.isin(closed["first_t"], pdf["t"]).any()
    for col in got.columns:
        np.testing.assert_array_equal(
            got[col].to_numpy(), closed[col].to_numpy(), err_msg=col
        )


def test_out_of_order_rows_skipped(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src_ooo"
    src.mkdir()
    b0 = pd.DataFrame(
        {"series_key": "k", "t": [0.0, 30.0, 70.0], "value": [1.0, 2.0, 3.0]}
    )
    # t=10 is late (skipped); t=130 closes the 60s bucket
    b1 = pd.DataFrame(
        {"series_key": "k", "t": [10.0, 130.0], "value": [99.0, 4.0]}
    )
    pq.write_table(pa.Table.from_pandas(b0), str(src / "b0.parquet"))

    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    q = (
        counter_stream(stream, "1m")
        .writeStream.format("memory")
        .queryName("counter_stream_ooo")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    pq.write_table(pa.Table.from_pandas(b1), str(src / "b1.parquet"))
    q.processAllAvailable()
    q.stop()

    got = (
        spark.sql("SELECT * FROM counter_stream_ooo")
        .toPandas()
        .sort_values("bucket_start")
        .reset_index(drop=True)
    )
    # bucket 0: points at t=0,30 (late t=10 skipped -> n=2, inc=1)
    # bucket 60: point at t=70, boundary +1 from v=2->3... closed by t=130
    assert got["bucket_start"].tolist() == [0, 60]
    assert got["n"].tolist() == [2, 1]
    assert got.loc[0, "inc_within"] == 1.0 and got.loc[0, "boundary_increase"] == 0.0
    assert got.loc[1, "inc_within"] == 0.0 and got.loc[1, "boundary_increase"] == 1.0

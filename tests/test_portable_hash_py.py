"""r6: the Python-side portable 60-bit hash (memoized hashlib.md5) must be
bit-identical to the JVM ``conv(substr(md5(w),1,15),16,10)`` expression it
replaced in the hot token/shingle paths."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from series_correction_project_updated_spark.operators.dedup import (
    _filtered_words,
    _simhash_fold,
    _token_hashes,
    portable_hash60,
    portable_hash60_np,
    simhash_signatures,
)

STRINGS = [
    "",
    "a",
    "hello",
    "hello",  # repeat — exercises the memo
    "Ünïcødé-tøken",
    "日本語テキスト",
    "x" * 500,
    " spaces  inside ",
    "tab\tand\nnewline",
    "emoji 🎉🎊",
    "numbers 1234567890",
]


def test_python_hash_matches_jvm_expression(spark):
    df = spark.createDataFrame(pd.DataFrame({"s": STRINGS}))
    want = [r["h"] for r in df.select(portable_hash60(F.col("s")).alias("h")).collect()]
    got = portable_hash60_np(STRINGS).tolist()
    assert got == want


def test_portable_simhash_matches_old_jvm_path(spark):
    texts = [
        None,
        "",
        "one",
        "the quick brown fox jumps over the lazy dog",
        "the the the repeated repeated tokens tokens tokens",
        "Ünïcødé tøkens mixed WITH ascii",
        "  leading and trailing   whitespace  ",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
    )
    got = (
        simhash_signatures(docs, portable=True)
        .orderBy("doc_id")
        .toPandas()
    )
    # the pre-r6 plan: JVM md5->conv per token, then the Arrow fold
    old = (
        docs.select(
            "doc_id",
            _simhash_fold(_token_hashes("text", portable=True)).alias("simhash"),
        )
        .withColumn("band", F.shiftrightunsigned("simhash", 48).cast("int"))
        .orderBy("doc_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, old, check_exact=True)


def test_filtered_words_feeds_fold_like_token_hashes(spark):
    # the portable fold consumes _filtered_words; its token list must match
    # what _token_hashes hashed (same split/trim/filter law)
    texts = ["a  b   c", "", None, " x "]
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": texts}))
    words = docs.select(_filtered_words("text").alias("w")).collect()
    hashes = docs.select(_token_hashes("text", portable=True).alias("h")).collect()
    for wrow, hrow in zip(words, hashes):
        assert portable_hash60_np(wrow["w"]).tolist() == hrow["h"]


def test_python_hash_maps_null_to_null(spark):
    """None/NaN elements hash to null, as the JVM expression does."""
    strings = ["a", None, "hello", float("nan"), "a"]
    got = portable_hash60_np(strings)
    assert got.isna().tolist() == [False, True, False, True, False]
    df = spark.createDataFrame(pd.DataFrame({"s": ["a", None, "hello", None, "a"]}))
    want = [r["h"] for r in df.select(portable_hash60(F.col("s")).alias("h")).collect()]
    assert [None if pd.isna(h) else int(h) for h in got] == want
    assert portable_hash60_np([None]).isna().all()

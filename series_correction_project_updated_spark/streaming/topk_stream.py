"""Live heavy-hitters (top-k) tier.

Keyed stateful stream (``streaming/stateful``), the analog of
``operators.topk.topk_rollup``: per (key) the state is ONE OPEN BUCKET
holding EXACT item counts (the batch path's in-bucket counts are exact
too — a JVM hash aggregate — so the live path stores the same thing and
``err`` is 0/max-dropped at close, identical semantics). A bucket CLOSES
when a row for a LATER bucket arrives; only the bucket frontier is
monotone.

Exactness: closed buckets are **bit-equal** to ``topk_rollup`` rows
(test-pinned across micro-batch splits): counts are exact longs, the
summary order replicates ``sort_array(struct(hi, lo, item), desc)``
(hi desc, lo desc, then item by UTF-8 code point desc — Python string
comparison IS code-point order, which equals Spark's binary UTF-8
order), and the bucket id is computed by the SAME JVM expression in the
stream's pre-projection.

The per-batch update is vectorized: one pandas ``groupby(bucket,
item).size`` — Python touches (bucket, distinct-item) cells, never rows.

``key_col=None`` (global rankings) routes the whole stream through one
state key — fine for tests/small streams; shard by a real key at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import TIER_SECONDS
from .stateful import quantized_t, stateful_stream

_ITEM = T.StructType(
    [
        T.StructField("item", T.StringType()),
        T.StructField("lo", T.DoubleType()),
        T.StructField("hi", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket_start", T.LongType()),
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def _out_schema(key_col: str | None) -> T.StructType:
    fields = []
    if key_col:
        fields.append(T.StructField(key_col, T.StringType(), False))
    return T.StructType(
        fields
        + [
            T.StructField("bucket_start", T.LongType(), False),
            T.StructField("items", T.ArrayType(_ITEM), False),
            T.StructField("err", T.DoubleType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )


def topk_stream(
    events_stream: DataFrame,
    tier: str = "1h",
    m: int = 20,
    state_ttl_ms: int = 0,
    key_col: str | None = None,
    time_col: str = "ts",
    item_col: str = "event_type",
) -> DataFrame:
    """Keyed stateful top-``m`` tier over an event stream; emits
    (key?, bucket_start, items[struct(item, lo, hi)], err, n) rows as
    buckets close."""
    sec = TIER_SECONDS[tier]

    def _close(key, bucket: int, cnts: dict[str, int]) -> tuple:
        # replicate sort_array(struct(hi, lo, item), desc): hi desc,
        # lo desc (== hi here), item code-point desc
        ranked = sorted(
            cnts.items(), key=lambda kv: (-kv[1], -kv[1], _NegStr(kv[0]))
        )
        kept = ranked[:m]
        dropped = ranked[m:]
        err = float(max((c for _i, c in dropped), default=0))
        items = [(i, float(c), float(c)) for i, c in kept]
        n = sum(cnts.values())
        return (*((key,) if key_col else ()), bucket, items, err, n)

    def _step(key, pdf, st):
        pdf = pdf.dropna(subset=["_item"])
        if st is not None:
            b_open, cnts = st[0], dict(zip(st[1], (int(c) for c in st[2])))
            pdf = pdf[pdf["_bucket"] >= b_open]
        else:
            b_open, cnts = None, {}
        if len(pdf) == 0:
            return None, None

        cells = pdf.groupby(["_bucket", "_item"], sort=True).size()
        out = []
        for (b, item), c in cells.items():
            b = int(b)
            if b_open is not None and b != b_open:
                out.append(_close(key, b_open, cnts))
                cnts = {}
            b_open = b
            cnts[item] = cnts.get(item, 0) + int(c)
        return (b_open, list(cnts.keys()), list(cnts.values())), out

    sel = ([F.col(key_col)] if key_col else [F.lit("_global").alias("_g")]) + [
        (F.floor(quantized_t(time_col) / sec) * sec).cast("long").alias("_bucket"),
        F.col(item_col).cast("string").alias("_item"),
    ]
    return stateful_stream(
        events_stream.select(*sel),
        key_col if key_col else "_g",
        _step,
        _out_schema(key_col),
        _STATE_SCHEMA,
        state_ttl_ms,
        lambda key, st: _close(key, st[0], dict(zip(st[1], st[2]))),
    )


class _NegStr(str):
    """Inverts comparison so sorted() ascending yields code-point DESC."""

    __slots__ = ()

    def __lt__(self, other):  # noqa: D105
        return str.__gt__(self, other)

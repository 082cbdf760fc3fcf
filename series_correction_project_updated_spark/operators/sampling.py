"""Deterministic corpus sampling — hash-Bernoulli rates, disjoint splits,
per-key bottom-k (uniform without replacement), and weighted bottom-k.

Training-corpus construction needs samples that are REPRODUCIBLE (the same
command yields the same subset on any cluster, any partition count, any
day) and CONSISTENT (the same document is in-sample or out-of-sample
everywhere it appears, so samples of two tables sharing a key remain
joinable — "coordinated sampling", Cohen & Kaplan's bottom-k sketch
framework). Spark's ``df.sample`` gives neither: it draws from a
per-partition RNG stream, so the subset changes with partitioning, task
retries, and row order. Every operator here instead derives its
randomness from ``xxhash64(id_cols, salt)`` — a pure JVM column
expression — which makes the sample a deterministic FUNCTION of row
identity:

- same input anywhere → same sample (partition- and retry-invariant);
- two tables sampled on the same id/salt keep exactly the joinable rows;
- raising ``rate`` (or ``k``) strictly GROWS the sample (nested subsets:
  the 1% sample is contained in the 10% sample), so experiments at
  increasing scale reuse smaller runs' shards;
- a new ``salt`` is a fresh independent draw.

Execution shapes (no Python anywhere):

- ``hash_bernoulli`` / ``hash_split``: a filter / projected CASE — fully
  pushdown-friendly, zero shuffles, whole-stage codegen.
- ``bottom_k_sample`` / ``weighted_bottom_k``: ``row_number`` over
  (key → hash order) with ``rn <= k``. Catalyst's WindowGroupLimit
  rewrite (plan-audited in tests) inserts a PARTIAL per-task top-k
  BEFORE the exchange, so the shuffle carries at most k rows per key per
  task — the map-side-combine analogue for order statistics; at 10^12
  rows the wire cost is O(k · keys · tasks-touching-key), not O(rows).
  Skew: a hot key still converges to k rows after the partial limit, so
  hot domains cost k per upstream task, never their full row count.

Weighted sampling uses the Efraimidis–Spirakis A-ES key (``Weighted
random sampling with a reservoir``, IPL 2006): priority ``u^(1/w)`` —
equivalently ``ln(u)/w`` compared descending — drawn here from the hash
uniform instead of an RNG, keeping the reservoir semantics AND hash
determinism. ``weight_col`` must be > 0 (rows with null/non-positive
weight are excluded, matching "weight 0 = never sampled").

The bottom-k sample is a KMV-style sketch (Bar-Yossef et al. 2002): the
k smallest hashes of a union are a subset of the concatenation of each
part's k smallest, so per-shard samples MERGE exactly (pytest-pinned) —
sample shards independently, keep the k smallest of the merged result,
and the answer equals sampling the whole corpus at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_U_MIN = 2.0**-53  # floor for ln(u): u=0 happens only when the top 53 bits are 0


def _raw_hash(id_cols: list[str], salt: int, portable: bool = False):
    """The sampler's hash integer. Default: ``xxhash64(id_cols, salt)``
    (signed 64-bit, JVM-native). ``portable=True``: the 60-bit md5-prefix
    hash over ``concat_ws('|', id_cols, salt)`` — slower, but every value
    is reproducible in ANSI SQL (DuckDB: ``('0x' || substr(md5(k), 1,
    15))::BIGINT``), which is what lets the driver's oracle hash-check the
    samplers end to end (q_sample_splits). The primitive is
    ``dedup.portable_hash60`` — called, not re-implemented, so the shared
    hash law has exactly one definition."""
    if portable:
        from .dedup import portable_hash60

        return portable_hash60(
            F.concat_ws("|", *[F.col(c).cast("string") for c in id_cols], F.lit(str(int(salt))))
        )
    return F.xxhash64(*[F.col(c) for c in id_cols], F.lit(int(salt)))


def _hash_u(id_cols: list[str], salt: int, portable: bool = False):
    """Deterministic uniform in [0, 1) from row identity — JVM-side.

    Uses only the TOP 53 bits of the hash so every value is exactly
    representable as a double: ``(h >>> 11) * 2^-53`` is uniform on the
    2^53-point grid [0, 1 - 2^-53] with NO rounding. The naive
    ``h/2^64 + 0.5`` form is wrong at the edge — hashes within 512 of
    2^63 round UP to exactly 1.0, violating the [0, 1) contract (a
    ``rate=1.0`` Bernoulli would drop such rows, and ln(1.0)=0 would be
    the maximal A-ES key regardless of weight). ~2.8e-17 per row, but the
    module targets 10^12-row corpora. Portable mode shifts the 60-bit
    hash by 7 for the same exactly-representable 53-bit grid."""
    h = _raw_hash(id_cols, salt, portable)
    shift = 7 if portable else 11
    return F.shiftrightunsigned(h, shift).cast("double") * F.lit(2.0**-53)


def hash_bernoulli(
    df: DataFrame,
    rate: float,
    id_cols: list[str],
    salt: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Keep each row iff ``hash_u(id_cols, salt) < rate`` — a
    deterministic Bernoulli(rate) sample. Zero shuffles (a pushdown-able
    filter); nested across rates (rate a ⊆ rate b for a <= b) and
    coordinated across tables sharing ``id_cols``/``salt``."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    if not id_cols:
        raise ValueError("id_cols must be non-empty")
    return df.where(_hash_u(id_cols, salt, portable) < F.lit(float(rate)))


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_cols: list[str],
    salt: int = 0,
    split_col: str = "split",
    portable: bool = False,
) -> DataFrame:
    """Label every row with a split name by disjoint hash ranges —
    ``{"train": 0.98, "val": 0.01, "test": 0.01}`` — an exhaustive,
    deterministic partition (weights must sum to 1 within 1e-9; the last
    split absorbs the tail residue up to 1.0 so no row is unlabeled). One
    projected CASE expression, zero shuffles."""
    if not weights:
        raise ValueError("weights must be non-empty")
    # note the negated forms: `w < 0` / `abs(total-1) > 1e-9` are both
    # False for NaN, which would wave a NaN weight through and silently
    # label every row with the last split (u < NaN is never true)
    if not all(w >= 0 for w in weights.values()):
        raise ValueError(f"weights must be >= 0, got {weights}")
    total = sum(weights.values())
    if not abs(total - 1.0) <= 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    if split_col in df.columns:
        raise ValueError(f"column {split_col!r} already exists")
    u = _hash_u(id_cols, salt, portable)
    names = list(weights)
    expr = F.lit(names[-1])  # the last split takes everything remaining
    hi = 0.0
    conds = []
    for name in names[:-1]:
        hi += weights[name]
        conds.append((name, hi))
    for name, bound in reversed(conds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def bottom_k_sample(
    df: DataFrame,
    k: int,
    key_col: str,
    id_cols: list[str],
    salt: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Per-``key_col`` uniform sample of ``k`` rows without replacement:
    the rows whose hashes are the k smallest within the key (all rows
    when the key has fewer than k). Deterministic, nested in k, and
    mergeable across shards (KMV law — see module doc). A 64-bit hash
    collision between distinct ids is broken deterministically by the id
    columns themselves, so the boundary pick is partition-invariant even
    then."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not id_cols:
        raise ValueError("id_cols must be non-empty")
    if "__rn" in df.columns:
        raise ValueError("input already has a '__rn' column; rename it first")
    h = _raw_hash(id_cols, salt, portable)
    w = Window.partitionBy(key_col).orderBy(h.asc(), *[F.col(c) for c in id_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_bottom_k(
    df: DataFrame,
    k: int,
    key_col: str,
    weight_col: str,
    id_cols: list[str],
    salt: int = 0,
    portable: bool = False,
) -> DataFrame:
    """Per-key weighted sample of ``k`` rows without replacement
    (Efraimidis–Spirakis A-ES): keep the k rows maximizing
    ``ln(u)/w`` (u = hash uniform, w = ``weight_col``) — inclusion
    probability proportional to weight at each of the k draws, exactly
    the reservoir semantics, but deterministic in the hash. Rows with
    null or non-positive weight are excluded. Equal A-ES keys (hash
    collisions / clamped u) are broken deterministically by the id
    columns so the boundary pick is partition-invariant. Same
    WindowGroupLimit plan shape as ``bottom_k_sample``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not id_cols:
        raise ValueError("id_cols must be non-empty")
    if "__rn" in df.columns:
        raise ValueError("input already has a '__rn' column; rename it first")
    u = _hash_u(id_cols, salt, portable)
    wgt = F.col(weight_col).cast("double")
    key_expr = F.log(F.greatest(u, F.lit(_U_MIN))) / wgt
    w = Window.partitionBy(key_col).orderBy(
        key_expr.desc(), *[F.col(c) for c in id_cols]
    )
    # NaN needs its own exclusion: Spark orders NaN ABOVE every number, so
    # `wgt > 0` is TRUE for NaN and its NaN sort key would rank first —
    # NaN-weight rows would crowd out the whole per-key sample
    return (
        df.where(wgt.isNotNull() & ~F.isnan(wgt) & (wgt > 0))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )

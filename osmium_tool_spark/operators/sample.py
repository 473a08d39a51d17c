"""Deterministic balanced sampling — per-key top-k and per-key quotas.

The reference's extract hotspot (a planet extract is dominated by a few
dense regions — the skew the cell-ring kNN and salting machinery exists
for) has a training-data twin: sampling a spatially/linguistically
BALANCED subset of a 10^12-row table. Uniform sampling reproduces the
skew; these operators instead take (up to) k rows per key — tile cell,
language, source domain — with a deterministic pseudo-random order, so
the same input always yields the same sample (resumable jobs, stable
oracles).

Scale shape: `row_number() <= k` over a per-key window is compiled by
Spark into WindowGroupLimit — a map-side partial top-k BEFORE the
shuffle, so each partition ships at most k rows per key it has seen, not
its full key population (dense-cell skew is bounded at the source). The
pseudo-random order is Knuth multiplicative hashing mod 1e9+7 — portable
integer arithmetic the DuckDB oracle restates exactly (engine-specific
xxhash64 would not be).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import HASH_MOD, MIX


def sample_hash(id_col: Column, seed: int = 0) -> Column:
    """Portable deterministic shuffle order:
    (((id % P + P) % P + seed) * MIX) % P.

    The double-mod forces a NON-NEGATIVE residue (Spark's % keeps the
    dividend's sign, so a plain `id % P` is negative for negative ids —
    which made bernoulli_sample keep every negative-id row regardless of
    rate; OSM fixtures do carry negative ids). DuckDB's % has the same
    sign rule, so the oracle SQL mirrors the same expression.
    All intermediates stay under 2^63: (P + seed) * MIX < 9.2e18 for
    seed < P."""
    return (((id_col % HASH_MOD + HASH_MOD) % HASH_MOD + F.lit(seed)) * MIX) % HASH_MOD


def balanced_sample(
    df: DataFrame,
    key_cols: list[str],
    k: int,
    id_col: str = "id",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Up to ``k`` rows per distinct key, deterministically pseudo-random.

    Order within a key is (sample_hash(id), id). Output keeps all input
    columns plus ``rank_col`` in [1, k].
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = sample_hash(F.col(id_col))
    w = Window.partitionBy(*key_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def stratified_quota_sample(
    df: DataFrame,
    key_col: str,
    quotas: dict[str, int],
    id_col: str = "id",
    default_k: int = 0,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Per-key sample with an explicit quota per key value (e.g. language
    rebalancing: {"en": 1000, "de": 5000, ...}); keys absent from
    ``quotas`` get ``default_k`` rows (0 = dropped).

    The quota table is a literal-sized broadcast join; the top-k itself is
    the same WindowGroupLimit shape as `balanced_sample`, bounded by the
    LARGEST quota map-side, with the exact per-key quota applied after.
    """
    if any(v < 0 for v in quotas.values()) or default_k < 0:
        raise ValueError("quotas must be >= 0")
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(str(key), int(v)) for key, v in sorted(quotas.items())],
        schema=f"{key_col} string, __quota int",
    )
    h = sample_hash(F.col(id_col))
    w = Window.partitionBy(key_col).orderBy(h.asc(), F.col(id_col).asc())
    max_k = max([*quotas.values(), default_k])
    if max_k == 0:
        return df.filter(F.lit(False)).withColumn(rank_col, F.lit(0))
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= max_k)  # WindowGroupLimit bound
        .join(F.broadcast(qdf), key_col, "left")
        .filter(F.col(rank_col) <= F.coalesce(F.col("__quota"), F.lit(default_k)))
        .drop("__quota")
    )


def bernoulli_sample(
    df: DataFrame,
    rate: float,
    id_col: str = "id",
    weight: Column | None = None,
) -> DataFrame:
    """Deterministic Bernoulli sampling: keep a row iff
    sample_hash(id) < rate * P, optionally scaled by a per-row
    ``weight`` in [0, 1/rate] (quality-weighted downsampling: high-score
    documents survive at up to weight× the base rate).

    Unlike `DataFrame.sample`, the draw is a pure Column predicate on the
    row's own id — no RNG state, no partition sensitivity: the same row
    always gets the same verdict, so reruns, resumed jobs, and the DuckDB
    oracle all agree. A pushed-down filter (zero shuffle).
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    h = sample_hash(F.col(id_col))
    thresh = F.lit(rate) * F.lit(HASH_MOD)
    if weight is not None:
        thresh = thresh * weight
    return df.filter(h < thresh)


def mixture_sample(
    df: DataFrame,
    key_col: str,
    shares_ppm: dict[str, int],
    total: int,
    id_col: str = "id",
    seed: int = 0,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Compose a training mixture: draw ``total`` rows split across
    ``key_col`` groups (domain/source/language) by explicit target shares.

    ``shares_ppm`` maps key value -> share in parts-per-million (integer,
    so the per-key quota `min(group_count, total * ppm // 1_000_000)` is
    exact integer arithmetic — no float mixture weights to diverge between
    engines or reruns). Keys absent from the map are dropped. A group
    smaller than its quota yields all its rows (no upsampling — repeat
    epochs, don't duplicate rows).

    Scale shape: per-key counts are one hash-agg (map-side combine) and the
    quota frame is mixture-sized -> broadcast; the draw is the
    `balanced_sample` window ordered by the portable hash, pre-capped by the
    STATIC bound rank <= total (WindowGroupLimit: every map task keeps at
    most `total` rows per key before the shuffle), then the exact dynamic
    quota applies after the broadcast join. Dense-key skew is bounded the
    same way as stratified_quota_sample.
    """
    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    bad = {k: v for k, v in shares_ppm.items() if v < 0 or v > 1_000_000}
    if bad:
        raise ValueError(f"shares_ppm must be in [0, 1e6]: {bad}")
    spark = df.sparkSession
    sdf = spark.createDataFrame(
        [(str(k), int(v)) for k, v in sorted(shares_ppm.items())],
        schema=f"{key_col} string, __ppm long",
    )
    quotas = (
        df.groupBy(key_col)
        .agg(F.count("*").alias("__cnt"))
        .join(F.broadcast(sdf), key_col)
        .select(
            key_col,
            F.least(
                F.col("__cnt"), (F.lit(int(total)).cast("long") * F.col("__ppm")) / 1_000_000
            )
            .cast("long")
            .alias("__quota"),
        )
    )
    h = sample_hash(F.col(id_col), seed)
    w = Window.partitionBy(key_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= total)  # static WindowGroupLimit bound
        .join(F.broadcast(quotas), key_col)
        .filter(F.col(rank_col) <= F.col("__quota"))
        .drop("__quota")
    )

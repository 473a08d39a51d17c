"""Aspect-ratio bucketing (operators/multimodal.py): exact-fraction
python replica parity, tie-break determinism, batch assignment shape,
window-equivalence of the dense-index path, validation."""

from fractions import Fraction

import pytest

from pyspark.sql import functions as F

from osmium_tool_spark.operators.multimodal import (
    aspect_bucket_batches,
    assign_aspect_buckets,
)

LADDER = [
    (512, 512),
    (576, 448),
    (448, 576),
    (640, 384),
    (384, 640),
    (704, 320),
    (320, 704),
]


def py_bucket(w, h, ladder):
    """Exact-rational argmin with low-index tie-break."""
    target = Fraction(w, h)
    best = min(
        range(len(ladder)),
        key=lambda i: (abs(target - Fraction(ladder[i][0], ladder[i][1])), i),
    )
    return best


def _images(spark, n=500):
    k = F.col("id")
    return spark.range(n).select(
        F.concat(F.lit("img"), F.col("id").cast("string")).alias("image_id"),
        (64 + (k * 37) % 448).cast("int").alias("w"),
        (64 + (k * 53) % 448).cast("int").alias("h"),
    )


def test_assignment_matches_fraction_replica(spark):
    rows = assign_aspect_buckets(_images(spark), LADDER).collect()
    assert len(rows) == 500
    for r in rows:
        i = py_bucket(r.w, r.h, LADDER)
        assert r.bucket_idx == i, (r.w, r.h, r.bucket_idx, i)
        assert (r.bucket_w, r.bucket_h) == LADDER[i]


def test_tie_breaks_to_lower_index(spark):
    # w/h = 3/2 is equidistant from 1/1 and 2/1 -> lower ladder index wins
    df = spark.createDataFrame([("a", 3, 2)], "image_id string, w int, h int")
    [r] = assign_aspect_buckets(df, [(1, 1), (2, 1)]).collect()
    assert r.bucket_idx == 0


def test_batches_fill_in_id_order(spark):
    out = aspect_bucket_batches(_images(spark), LADDER, batch_size=16).collect()
    # replica: per bucket, sorted image_ids chunked by 16, remainder dropped
    assigned = assign_aspect_buckets(_images(spark), LADDER).collect()
    by_bucket = {}
    for r in sorted(assigned, key=lambda r: r.image_id):
        by_bucket.setdefault(r.bucket_idx, []).append(r.image_id)
    want = {}
    for b, ids in by_bucket.items():
        keep = len(ids) - len(ids) % 16
        for j, iid in enumerate(ids[:keep]):
            want[iid] = (b, j // 16, j % 16)
    got = {r.image_id: (r.bucket_idx, r.batch_id, r.slot) for r in out}
    assert got == want
    # every surviving batch is exactly full
    from collections import Counter

    sizes = Counter((r.bucket_idx, r.batch_id) for r in out)
    assert sizes and set(sizes.values()) == {16}


def test_dense_path_equals_window(spark):
    """The zipindex-based ordinal is bit-identical to the plain
    row_number window on the same ordering."""
    from pyspark.sql import Window

    imgs = _images(spark, 300)
    got = aspect_bucket_batches(imgs, LADDER, batch_size=8).collect()
    a = assign_aspect_buckets(imgs, LADDER)
    wn = Window.partitionBy("bucket_idx").orderBy("image_id")
    rn = F.row_number().over(wn) - 1
    ref = (
        a.withColumn("rn", rn)
        .withColumn("bc", F.count("*").over(Window.partitionBy("bucket_idx")))
        .filter(F.col("rn") < F.col("bc") - F.col("bc") % 8)
        .select(
            "image_id",
            "bucket_idx",
            (F.col("rn") - F.col("rn") % 8) / 8,
            (F.col("rn") % 8).alias("slot"),
        )
        .collect()
    )
    got_m = {r.image_id: (r.bucket_idx, r.batch_id, r.slot) for r in got}
    ref_m = {r[0]: (r[1], int(r[2]), r[3]) for r in ref}
    assert got_m == ref_m


def test_validation(spark):
    df = _images(spark, 10)
    with pytest.raises(ValueError, match="at least one"):
        assign_aspect_buckets(df, [])
    with pytest.raises(ValueError, match="bucket sides"):
        assign_aspect_buckets(df, [(0, 512)])
    with pytest.raises(ValueError, match="lcm"):
        # pairwise-coprime heights near 4096 blow past 2^28
        assign_aspect_buckets(df, [(512, 4093), (512, 4091), (512, 4079)])
    with pytest.raises(ValueError, match="batch_size"):
        aspect_bucket_batches(df, LADDER, batch_size=0)

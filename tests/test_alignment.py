"""Caption-image alignment (operators/multimodal.py): bit-vector
unpack parity vs python, sequential-fold cosine exactness, projection
plan."""

from pyspark.sql import functions as F

from osmium_tool_spark.operators.multimodal import (
    alignment_scores,
    dhash_bit_vector,
)


def py_bits(hi, lo):
    out = []
    for i in range(64):
        half, sh = (hi, 31 - i) if i < 32 else (lo, 63 - i)
        out.append(float(((half >> sh) & 1) * 2 - 1))
    return out


def py_fold_cosine(a, b):
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    for x in a:
        na = na + x * x
    for y in b:
        nb = nb + y * y
    return dot / (na**0.5 * nb**0.5)


def test_bit_vector_matches_python(spark):
    cases = [(0, 0), (0x7FFFFFFF, 0x7FFFFFFF), (0x12345678, 0x0F0F0F0F), (1, 1 << 31)]
    df = spark.createDataFrame(cases, "hi long, lo long")
    rows = df.select("hi", "lo", dhash_bit_vector(F.col("hi"), F.col("lo")).alias("v")).collect()
    for r in rows:
        assert list(r.v) == py_bits(r.hi, r.lo), (r.hi, r.lo)
        assert set(r.v) <= {-1.0, 1.0} and len(r.v) == 64


def test_alignment_score_exact_fold(spark):
    a = py_bits(0x12345678, 0x0F0F0F0F)
    b = [((i * 131) % 997) / 997.0 + 0.001 for i in range(64)]
    df = spark.createDataFrame([(1, a, b)], "id long, va array<double>, vb array<double>")
    [r] = alignment_scores(df, "va", "vb").collect()
    assert r.alignment == py_fold_cosine(a, b)  # bit-exact IEEE sequence


def test_alignment_is_projection(spark):
    """No exchange is introduced by the scoring stage itself."""
    df = spark.createDataFrame(
        [(i, [1.0] * 4, [0.5] * 4) for i in range(10)],
        "id long, va array<double>, vb array<double>",
    )
    plan = alignment_scores(df, "va", "vb")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

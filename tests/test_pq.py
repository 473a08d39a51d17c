"""Product-quantization ANN: exactness on code-aligned data, recall,
determinism, guards."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.similarity import (
    _pq_topk,
    ann_topk,
    ann_topk_pq,
    pq_encode,
    train_pq_codebooks,
)

DIM, M, KSUB = 32, 4, 8
DSUB = DIM // M


@pytest.fixture(scope="module")
def aligned(spark):
    """Corpus whose vectors are exact codebook-piece concatenations with
    unit norm (each piece has norm 1/sqrt(M)), so PQ reconstruction is
    LOSSLESS and ADC == exact dot product."""
    rng = np.random.default_rng(3)
    books = rng.normal(size=(M, KSUB, DSUB))
    books /= np.linalg.norm(books, axis=2, keepdims=True) * np.sqrt(M)
    codes = rng.integers(0, KSUB, size=(80, M))
    vecs = np.concatenate(
        [books[s, codes[:, s]] for s in range(M)], axis=1
    )  # (80, DIM), unit norm
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, books, codes


def test_pq_encode_recovers_codes(aligned):
    df, books, codes = aligned
    got = {
        r["vec_id"]: list(r["pq_code"]) for r in pq_encode(df, books).collect()
    }
    for i, want in enumerate(codes):
        assert got[i] == list(want)


def test_pq_adc_exact_on_aligned_corpus(aligned):
    """Lossless codes -> ADC ranking == brute-force cosine ranking."""
    df, books, _ = aligned
    queries = df.filter(F.col("vec_id") % 17 == 0)
    pq = _pq_topk(df, queries, 5, books, "vec_id", "embedding", refine=0)
    brute = ann_topk(df, queries, k=5, id_col="vec_id")
    want = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in brute.collect()}
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in pq.collect()}
    assert got == want


def test_pq_recall_on_clustered_data(spark):
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(10, DIM)) * 5
    pts = np.repeat(centers, 30, axis=0) + rng.normal(size=(300, DIM)) * 0.3
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") % 75 == 0)
    brute = {(r["query_id"], r["neighbor_id"]) for r in ann_topk(df, queries, 5, id_col="vec_id").collect()}
    adc_rows = ann_topk_pq(df, queries, 5, m=M, ksub=KSUB).collect()
    refined = {(r["query_id"], r["neighbor_id"])
               for r in ann_topk_pq(df, queries, 5, m=M, ksub=KSUB, refine=40).collect()}
    # PQ codes collapse same-cluster members (that IS the compression), so
    # ADC alone can't rank WITHIN a cluster — it must still land in the
    # right cluster (coarse structure)...
    cluster_hits = sum(
        1 for r in adc_rows if r["neighbor_id"] // 30 == r["query_id"] // 30
    )
    assert cluster_hits / len(adc_rows) >= 0.9
    # ...and exact re-ranking of the ADC top-40 (>= the 29 same-cluster
    # candidates) restores the true top-5.
    assert len(brute & refined) / len(brute) >= 0.9


def test_pq_training_deterministic(spark):
    rng = np.random.default_rng(2)
    pts = rng.normal(size=(200, DIM))
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    b1 = train_pq_codebooks(df, m=M, ksub=KSUB)
    b2 = train_pq_codebooks(df, m=M, ksub=KSUB)
    assert np.array_equal(b1, b2)


def test_pq_code_shape_and_range(spark, aligned):
    df, books, _ = aligned
    r = pq_encode(df, books).select("pq_code").first()
    assert len(r["pq_code"]) == M
    assert all(0 <= c < KSUB for c in r["pq_code"])


def test_pq_train_guards(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(df, m=2, ksub=4)  # dim 3 % 2
    with pytest.raises(ValueError, match="smaller than ksub"):
        train_pq_codebooks(df, m=3, ksub=64)


# ---------------------------------------------------------------------------
# IVF-PQ composition
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clustered_corpus(spark):
    rng = np.random.default_rng(13)
    centers = rng.normal(size=(8, DIM)) * 5
    pts = np.repeat(centers, 25, axis=0) + rng.normal(size=(200, DIM)) * 0.3
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivfpq_full_probe_refine_equals_brute(clustered_corpus):
    """nprobe == n_centroids (no list pruned) + refine >= corpus (every
    candidate re-ranked exactly) must reproduce brute force exactly."""
    from osmium_tool_spark.operators.similarity import ann_topk_ivfpq

    df = clustered_corpus
    from pyspark.sql import functions as SF
    queries = df.filter(SF.col("vec_id") % 50 == 0)
    got = ann_topk_ivfpq(
        df, queries, k=5, n_centroids=4, nprobe=4, m=M, ksub=KSUB,
        refine=500,
    )
    brute = ann_topk(df, queries, k=5, id_col="vec_id")
    want = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in brute.collect()}
    have = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    assert have == want


def test_ivfpq_partial_probe_shape_and_recall(clustered_corpus):
    from osmium_tool_spark.operators.similarity import ann_topk_ivfpq

    df = clustered_corpus
    from pyspark.sql import functions as SF
    queries = df.filter(SF.col("vec_id") % 50 == 0)
    out = ann_topk_ivfpq(
        df, queries, k=5, n_centroids=8, nprobe=2, m=M, ksub=KSUB,
        refine=30,
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    brute = {(r["query_id"], r["neighbor_id"])
             for r in ann_topk(df, queries, 5, id_col="vec_id").collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in out}
    # tight clusters + probing the 2 nearest of 8 lists: most true
    # neighbors live in the query's own list
    assert len(brute & got) / len(brute) >= 0.6


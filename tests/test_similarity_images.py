"""similarity search + image-source plumbing."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.dedup import phash_near_dup_pairs
from osmium_tool_spark.operators.pipeline import image_extract_tile
from osmium_tool_spark.operators.similarity import (
    ann_topk,
    ann_topk_bucketed,
    cosine,
    embedding_near_dup,
    knn_cellring,
)
from osmium_tool_spark.sources.images import (
    decode_stub_meta,
    synth_images,
)


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),   # close to 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0], 1),
        (5, [0.0, 0.1, 0.9], 1),   # close to 4
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_column(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], "a array<double>, b array<double>")
    got = [r[0] for r in df.select(cosine(F.col("a"), F.col("b"))).collect()]
    assert got[0] == pytest.approx(0.0)
    assert got[1] == pytest.approx(1.0)


def test_ann_topk_ranks_by_cosine(emb):
    out = ann_topk(emb, emb.filter(F.col("vec_id") == 1), k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [2, 3]
    assert rows[0].cos > rows[1].cos


def test_ann_bucketed_restricts_to_label(emb):
    out = ann_topk_bucketed(emb, emb.filter(F.col("vec_id") == 4), k=3)
    assert {r.neighbor_id for r in out.collect()} == {5}  # only label-1 peers


def test_embedding_near_dup(emb):
    got = {(r.a, r.b) for r in embedding_near_dup(emb, threshold=0.9).collect()}
    assert got == {(1, 2), (4, 5)}


def test_knn_cellring_exact_within_block(spark):
    # a line of points 0.1 degree apart; query at origin
    rows = [(i, 0, i * 1_000_000, 0) for i in range(10)]
    pts = spark.createDataFrame(rows, "id long, type int, lon long, lat long")
    out = knn_cellring(pts, pts.filter(F.col("id") == 0), res=6, ring=1, k=3)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [1, 2, 3]
    assert rows[0].dist2 == pytest.approx(1e12)


def test_synth_images_schema_and_determinism(spark):
    a = synth_images(spark, 100, partitions=4).collect()
    b = synth_images(spark, 100, partitions=2).collect()
    assert sorted(r.image_id for r in a) == sorted(r.image_id for r in b)
    assert {r.phash for r in a} == {r.phash for r in b}
    cols = set(synth_images(spark, 1).columns)
    assert cols == {"image_id", "bytes", "w", "h", "fmt", "caption", "phash"}


def test_decode_stub_meta_plumbing(spark):
    imgs = synth_images(spark, 50, partitions=2)
    meta = decode_stub_meta(imgs).collect()
    assert len(meta) == 50
    assert all(0 <= r.mean_luma < 256 for r in meta)
    assert all(r.n_bytes > 0 for r in meta)


def test_phash_near_dup_self_blocked(spark):
    imgs = synth_images(spark, 200, partitions=2)
    out = phash_near_dup_pairs(imgs, max_hamming=48, prefix_bits=4, block_col="fmt")
    rows = out.collect()
    assert all(r.a < r.b for r in rows)


def test_image_extract_tile_pipeline(spark):
    import numpy as np

    from osmium_tool_spark.functions.geometry import Extract

    imgs = synth_images(spark, 1000, partitions=4)
    r = 999_999_999
    ext = [
        Extract.bbox(0, -180, -90, 180, 90),  # whole world
        Extract.polygon(1, [np.array([(r, 0), (0, r), (-r, 0), (0, -r), (r, 0)], np.int64)]),
    ]
    tiles = image_extract_tile(imgs, ["n/fmt=*"], ext, cell_res=2)
    total = {r.extract_id: 0 for r in tiles.collect()}
    for row in tiles.collect():
        total[row.extract_id] += row.n_images
    assert total[0] == 1000  # world bbox catches everything
    assert 0 < total[1] < 1000


def test_embedding_lsh_near_dup_recall(spark):
    """SRP-LSH (label-free blocking) vs brute-force ground truth on the
    real sf0.001 embeddings: candidates must be a subset of all pairs,
    survivors exact-cosine-verified, and recall of true >=0.35 pairs high
    (deterministic hyperplanes + deterministic data => stable number)."""
    from osmium_tool_spark.operators.similarity import (
        embedding_lsh_near_dup,
        embedding_near_dup,
    )
    from osmium_tool_spark.sources.testdata import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    lsh = {(r.a, r.b) for r in embedding_lsh_near_dup(emb, threshold=0.35).collect()}
    one_block = emb.withColumn("all", F.lit(0))  # every pair shares the block
    truth = {
        (r.a, r.b)
        for r in embedding_near_dup(one_block, threshold=0.35, block_col="all").collect()
    }
    assert lsh <= truth  # verification step guarantees no false positives
    assert truth, "fixture should contain near-dup pairs"
    recall = len(lsh) / len(truth)
    assert recall >= 0.5, f"recall {recall:.2f} ({len(lsh)}/{len(truth)})"


def test_srp_signature_is_angle_sensitive(spark):
    # identical vectors share all bands; near-orthogonal ones don't
    from osmium_tool_spark.operators.similarity import embedding_lsh_near_dup

    rows = [
        (1, [1.0] * 64),
        (2, [1.0] * 63 + [0.9]),        # nearly identical to 1
        (3, [(-1.0) ** i for i in range(64)]),  # near-orthogonal to 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.a, r.b) for r in embedding_lsh_near_dup(emb, threshold=0.9).collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_ann_topk_lsh_recall_vs_exact(spark):
    """Label-free LSH ANN vs exact brute-force top-k on real embeddings:
    returned neighbors are ranked by true cosine, and recall@5 against
    the exact result is high (deterministic planes + data)."""
    from osmium_tool_spark.operators.similarity import ann_topk, ann_topk_lsh
    from osmium_tool_spark.sources.testdata import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r.query_id, r.neighbor_id) for r in ann_topk(emb, queries, k=5).collect()}
    lsh_rows = ann_topk_lsh(emb, queries, k=5).collect()
    lsh = {(r.query_id, r.neighbor_id) for r in lsh_rows}
    assert exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.6, f"recall@5 {recall:.2f}"
    # per-query ranks are contiguous from 1 and ordered by cosine
    by_q: dict = {}
    for r in lsh_rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i].cos >= rs[i + 1].cos for i in range(len(rs) - 1))


def test_ann_topk_ivf_recall_and_exact_limit(spark):
    """Trained-codebook IVF ANN: (a) nprobe == n_centroids degenerates to
    the exact brute-force result; (b) nprobe=2 keeps high recall@5."""
    from osmium_tool_spark.operators.similarity import (
        ann_topk,
        ann_topk_ivf,
        train_ivf_centroids,
    )
    from osmium_tool_spark.sources.testdata import load

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = train_ivf_centroids(emb, n_centroids=8)
    assert cents.shape[1] == 64

    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann_topk(emb, queries, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ann_topk_ivf(emb, queries, k=5, n_centroids=8, nprobe=8).collect()
    }
    assert full == exact  # probing every list == exact search

    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_topk_ivf(emb, queries, k=5, n_centroids=8, nprobe=2).collect()
    }
    base = {(q, n) for q, n, _ in exact}
    recall = len(approx & base) / len(base)
    assert recall >= 0.5, f"recall@5 {recall:.2f}"


def test_ivf_assign_probe_order(spark):
    """nprobe>1 returns centroid ids best-first; nprobe=1 argmax matches."""
    import numpy as np

    from osmium_tool_spark.operators.similarity import ivf_assign

    cents = np.eye(3)
    df = spark.createDataFrame(
        [(1, [1.0, 0.2, 0.0]), (2, [0.0, 0.1, 2.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r.vec_id: list(r.cids)
        for r in ivf_assign(df, cents, nprobe=2, out_col="cids").collect()
    }
    assert rows[1] == [0, 1]
    assert rows[2] == [2, 1]
    one = {
        r.vec_id: list(r.cids)
        for r in ivf_assign(df, cents, nprobe=1, out_col="cids").collect()
    }
    assert one[1] == [0] and one[2] == [2]


def test_ann_topk_prereduce_bitexact(spark):
    """The round-4 per-partition pre-top-k rework must return scores
    BIT-IDENTICAL to the pure Column-fold formulation (that is what the
    DuckDB oracle hashes): same rows, same ranks, cos equal to the last
    bit."""
    import struct

    from pyspark.sql import Window

    from osmium_tool_spark.operators.similarity import ann_topk, cosine

    corpus = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .repartition(7)  # several partitions => the merge path is real
    )
    queries = corpus.filter(F.col("vec_id") % 97 == 0)
    got = ann_topk(corpus, queries, k=5).collect()

    # the pre-rework reference formulation, inline
    q = F.broadcast(queries.select(F.col("vec_id").alias("query_id"),
                                   F.col("embedding").alias("qv")))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    want = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos", "rank")
        .collect()
    )
    assert len(got) == len(want) > 0
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    for g, x in zip(sorted(got, key=key), sorted(want, key=key)):
        assert (g.query_id, g.neighbor_id, g.rank) == (
            x.query_id, x.neighbor_id, x.rank)
        # bit-for-bit double equality, not approx
        assert struct.pack("<d", g.cos) == struct.pack("<d", x.cos), (g, x)


def test_ann_topk_empty_query_set(spark):
    from osmium_tool_spark.operators.similarity import ann_topk

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ann_topk(corpus, corpus.filter("vec_id < 0"), k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]


class TestTopkRecall:
    def _vecs(self, spark, n=80, dim=8):
        return spark.createDataFrame(
            [
                (i, i % 4, [float((i * 31 + j * 17) % 13 - 6) for j in range(dim)])
                for i in range(n)
            ],
            "vec_id long, label int, embedding array<float>",
        )

    def test_recall_one_for_self(self, spark):
        from osmium_tool_spark.operators.similarity import ann_topk, topk_recall

        emb = self._vecs(spark)
        qs = emb.filter(F.col("vec_id") % 10 == 0)
        exact = ann_topk(emb, qs, k=5)
        r = topk_recall(exact, exact).collect()
        assert len(r) == 8
        assert all(row.recall == 1.0 and row.n_hit == row.n_truth == 5 for row in r)

    def test_bucketed_recall_bounds_and_determinism(self, spark):
        from osmium_tool_spark.operators.similarity import (
            ann_topk,
            ann_topk_bucketed,
            topk_recall,
        )

        emb = self._vecs(spark)
        qs = emb.filter(F.col("vec_id") % 10 == 0)
        exact = ann_topk(emb, qs, k=5)
        approx = ann_topk_bucketed(emb, qs, k=5)
        r1 = sorted(map(tuple, topk_recall(approx, exact).collect()))
        r2 = sorted(map(tuple, topk_recall(approx, exact).collect()))
        assert r1 == r2
        assert all(0.0 <= row[3] <= 1.0 for row in r1)
        # bucketed scans 1/4 of the corpus: recall must be < 1 somewhere
        assert any(row[3] < 1.0 for row in r1)

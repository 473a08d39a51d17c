"""Similarity search: cosine kNN over embeddings + spatial kNN via
cell-ring expansion.

The spatial variant is the north-rule operator: candidate pairs come from
an equi-join on grid-cell ids (functions/cells.py neighbor rings), never a
cross product — the distributed analog of osmium's y-band segment index
idea (sub-linear candidate pruning; /root/reference/src/extract/
extract_polygon.cpp:77-100), applied to point-point search instead of
point-polygon.

Embedding kNN: brute-force is a broadcast join of the (small) query set
against the corpus with a JVM-side dot product (F.aggregate over zip_with —
no Python); the scale path buckets the corpus by an LSH/IVF-style coarse
key first so each query only scans its bucket.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve in module globals
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cells import cell_id


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double-precision dot product (JVM, no Python).

    Left-to-right fold => bit-reproducible across engines (the DuckDB
    oracle evaluates the same IEEE sequence)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self excluded).

    Scale shape (the `ann_topk_pq` recipe applied to exact search): the
    query set is collected (small by contract — it was broadcast before)
    and shipped as plain numpy inside a mapInPandas closure; every
    corpus PARTITION reduces to its local top-k per query, so the only
    shuffle is partitions x queries x k candidate rows — independent of
    corpus size — and the global window merely merges those candidates.
    The old shape windowed over corpus x queries scored rows.

    Bit-exactness: scores must hash-match the DuckDB oracle, which
    evaluates the same left-to-right IEEE fold as the `cosine` Column.
    The kernel reproduces that exact sequence with a per-dimension
    accumulation loop (acc += v_d * q_d in dimension order, float64),
    so the numpy scores are BIT-IDENTICAL to the JVM fold — pinned by
    tests/test_similarity_images.py::test_ann_topk_prereduce_bitexact.

    Returns (query_id, neighbor_id, cos, rank). Ties break by neighbor
    id."""
    import numpy as np
    from pyspark.sql import types as T

    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    if not qrows:
        schema_empty = corpus.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cos"), F.lit(1).alias("rank"),
        ).schema
        return corpus.sparkSession.createDataFrame([], schema_empty)
    q_ids = [r[0] for r in qrows]
    q_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows])

    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("query_id", id_type),
        T.StructField("neighbor_id", id_type),
        T.StructField("cos", T.DoubleType()),
    ])

    def local_topk(batches):
        # self-contained closure: executors only need numpy + pandas
        import numpy as np
        import pandas as pd

        Q = q_mat  # (m, d) float64
        m, d = Q.shape
        # query norms: same fold order as functions `norm` (sum of x*x
        # in dimension order, then sqrt)
        qn = np.zeros(m)
        for j in range(d):
            qn += Q[:, j] * Q[:, j]
        qn = np.sqrt(qn)
        best = [([], [], []) for _ in range(m)]  # per-query candidate pools

        def reduce_pool(i):
            ids_l, cos_l, _ = best[i]
            ids_a = np.concatenate(ids_l) if ids_l else np.array([], dtype=object)
            cos_a = np.concatenate(cos_l) if cos_l else np.array([])
            if len(ids_a) > k:
                order = np.lexsort((ids_a, -cos_a))[:k]
                ids_a, cos_a = ids_a[order], cos_a[order]
            return ids_a, cos_a

        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            V = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf.iloc[:, 1]])
            n = V.shape[0]
            # dot + corpus norms with the fold's exact IEEE sequence:
            # accumulate one dimension at a time, in order
            dots = np.zeros((n, m))
            cn = np.zeros(n)
            for j in range(d):
                col = V[:, j]
                dots += col[:, None] * Q[None, :, j]
                cn += col * col
            cn = np.sqrt(cn)
            cos = dots / (qn[None, :] * cn[:, None])
            for i in range(m):
                ci = cos[:, i]
                keep = ids != q_ids[i]
                cand_ids, cand_cos = ids[keep], ci[keep]
                if len(cand_ids) > k:
                    # local pre-top-k: (-cos, id) order, k survivors
                    order = np.lexsort((cand_ids, -cand_cos))[:k]
                    cand_ids, cand_cos = cand_ids[order], cand_cos[order]
                best[i][0].append(cand_ids)
                best[i][1].append(cand_cos)
        out_q, out_n, out_c = [], [], []
        for i in range(m):
            ids_a, cos_a = reduce_pool(i)
            out_q.extend([q_ids[i]] * len(ids_a))
            out_n.extend(ids_a.tolist())
            out_c.extend(cos_a.tolist())
        if out_q:
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos": out_c}
            )

    cands = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        local_topk, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ann_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """IVF-style approximate top-k: only the query's coarse bucket is
    scanned (equi-join on the bucket key -> shuffle-hash join, no broadcast
    needed at scale). Semantics: exact top-k WITHIN the bucket."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), F.col(bucket_col).alias("bk")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), F.col(bucket_col).alias("bk")
    )
    scored = (
        q.join(c, on="bk")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Label-free approximate top-k via signed-random-projection banding.

    The third leg of the ANN family: `ann_topk` broadcasts queries over
    the whole corpus (exact, small query sets), `ann_topk_bucketed`
    equi-joins on a semantic bucket column, and this variant needs NO
    bucket column — corpus and queries get SRP sign signatures
    (srp_projection), candidates share >=1 signature band (equi-join on
    (band_idx, band_value); uniform keys, no skew), exact cosine ranks
    candidates. Semantics: exact top-k WITHIN the band-candidate set of
    16 bands of 4 bits each. Returns (query_id, neighbor_id, cos, rank)."""
    nbits, band_size = 64, 4
    nbands = nbits // band_size

    def with_bands(df: DataFrame, role: str) -> DataFrame:
        sig = df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"{role}_v"),
            *[
                (srp_projection(F.col(vec_col), b) > 0).cast("int").alias(f"__b{b}")
                for b in range(nbits)
            ],
        )
        return sig.select(
            f"{role}_id",
            f"{role}_v",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band_idx"),
                            sum(
                                F.col(f"__b{bi * band_size + j}") * (1 << j)
                                for j in range(band_size)
                            ).alias("band"),
                        )
                        for bi in range(nbands)
                    ]
                )
            ).alias("bk"),
        ).select(
            f"{role}_id", f"{role}_v",
            F.col("bk.band_idx").alias("band_idx"), F.col("bk.band").alias("band"),
        )

    q = with_bands(queries, "query")
    c = with_bands(corpus, "neighbor")
    cand = (
        q.join(c, on=["band_idx", "band"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    from pyspark.sql import Window

    scored = cand.withColumn("cos", cosine(F.col("query_v"), F.col("neighbor_v")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def knn_cellring(
    points: DataFrame,
    queries: DataFrame,
    res: int,
    ring: int,
    k: int,
    id_col: str = "id",
) -> DataFrame:
    """Spatial kNN via cell-ring expansion (north-rule operator).

    Each query explodes its (2*ring+1)^2 neighbor-cell ids (longitude wraps
    at the antimeridian); candidates come from an equi-join on the cell id;
    top-k per query by squared euclidean distance in fixed-point coords
    (computed in double — same IEEE sequence as the SQL oracle), ties by
    candidate id. Semantics: exact k nearest WITHIN the Chebyshev cell
    block — callers iterate with growing `ring` until satisfied (the
    expansion loop mirrors osmium's band-index walk).

    Scale: points carry a precomputed cell column in practice (Iceberg
    partition/sort key), so the join prunes files; dense-cell skew is AQE's
    skew-join problem, and `queries` is tiny relative to `points`.
    Returns (query_id, neighbor_id, dist2, rank)."""
    from ..functions.cells import _ix, _iy, cell_from_xy

    pts = points.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("lon").alias("nlon"),
        F.col("lat").alias("nlat"),
        cell_id(F.col("lon"), F.col("lat"), res).alias("cell"),
    )
    # materialize the query's cell ordinates FIRST (attribute refs), then
    # derive the ring cells from them — inlining the de-interleave into all
    # (2r+1)^2 neighbor expressions duplicates the whole subtree per cell
    # and blows up codegen
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in range(-ring, ring + 1)
                for dy in range(-ring, ring + 1)
            ]
        )
    ).alias("o")
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
        _ix(F.col("lon"), res).alias("qx"),
        _iy(F.col("lat"), res).alias("qy"),
    )
    qs = q0.select("query_id", "qlon", "qlat", "qx", "qy", offsets).select(
        "query_id",
        "qlon",
        "qlat",
        cell_from_xy(F.col("qx") + F.col("o.dx"), F.col("qy") + F.col("o.dy"), res).alias("cell"),
    )
    cand = qs.join(pts, on="cell").filter(F.col("query_id") != F.col("neighbor_id"))
    dx = (F.col("qlon") - F.col("nlon")).cast("double")
    dy = (F.col("qlat") - F.col("nlat")).cast("double")
    scored = cand.withColumn("dist2", dx * dx + dy * dy).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist2", "rank")
    )


def knn_exact(
    points: DataFrame,
    queries: DataFrame,
    res: int,
    k: int,
    id_col: str = "id",
) -> DataFrame:
    """EXACT k nearest neighbors via iterative cell-ring expansion.

    Each round runs the block-bounded kNN; a query is SETTLED when it has
    k hits and its k-th squared distance is <= the certified radius — the
    distance below which no point outside the explored block can lie
    ((ring-1) * cell_width, conservative for any query position in its
    cell). Unsettled queries double their search radius; when the needed
    ring exceeds 8 the search COARSENS the resolution instead of
    growing the literal neighbor array (a ring-9 search at res r is a
    ring-5 search at res r-1), so the per-round Column plan stays bounded.
    The final escalation covers the whole world => trivially exact, so the
    result is always the true kNN (queries with < k total candidates
    return what exists).
    """
    import math

    from ..functions.cells import _LAT_SPAN, _LON_SPAN

    max_ring = 8

    def cw_at(r: int) -> int:
        n_r = 1 << r
        return min(_LON_SPAN // n_r, _LAT_SPAN // n_r)

    def plan(ring_needed: int) -> tuple[int, int]:
        """Map a needed ring at `res` to (res_eff, ring_eff<=max_ring)."""
        r, ring = res, ring_needed
        while ring > max_ring and r > 1:
            r -= 1
            ring = (ring + 1) // 2
        return r, min(ring, max_ring if r > 1 else ring)

    # seed from the expected k-th neighbor distance under uniform density
    # (d_k ~ sqrt(k*A/(pi*n))), 1.5x margin: most queries settle in round 1
    n_points = max(points.count(), 1)
    d_k = math.sqrt(k * float(_LON_SPAN) * float(_LAT_SPAN) / (math.pi * n_points))
    ring_needed = max(1, int(math.ceil(1.5 * d_k / cw_at(res))) + 1)

    remaining = queries
    settled_parts: list[DataFrame] = []
    for _round in range(16):
        if remaining.isEmpty():
            break
        res_r, ring_r = plan(ring_needed)
        covers_world = (2 * ring_r + 1) >= (1 << res_r)
        topk = knn_cellring(points, remaining, res_r, ring_r, k, id_col=id_col).persist()
        if covers_world:
            settled_parts.append(topk.localCheckpoint(eager=True))
            topk.unpersist()
            break
        certified = float((ring_r - 1) * cw_at(res_r)) ** 2
        stats = topk.groupBy("query_id").agg(
            F.count("*").alias("__n"), F.max("dist2").alias("__kth")
        )
        done_ids = stats.filter(
            (F.col("__n") >= k) & (F.col("__kth") <= F.lit(certified))
        ).select("query_id")
        settled_parts.append(
            topk.join(done_ids, on="query_id", how="left_semi").localCheckpoint(eager=True)
        )
        remaining = remaining.join(
            done_ids.withColumnRenamed("query_id", id_col), on=id_col, how="left_anti"
        ).localCheckpoint(eager=True)
        topk.unpersist()
        ring_needed *= 2
    if not settled_parts:
        return knn_cellring(points, queries, res, 1, k, id_col=id_col).limit(0)
    out = settled_parts[0]
    for p_ in settled_parts[1:]:
        out = out.unionByName(p_)
    return out


SRP_MOD = 1_000_000_007
SRP_MIX = 2654435761
SRP_DIM = 64  # hyperplane width: the embeddings' dimension


def srp_coeff(b: int, i: int) -> int:
    """Deterministic pseudo-random hyperplane coefficient for bit b,
    dimension i — integer arithmetic reproducible in ANSI SQL (the DuckDB
    oracle), centered on zero."""
    return ((b * 131 + i + 1) * SRP_MIX) % SRP_MOD - SRP_MOD // 2


def srp_projection(vec: Column, b: int) -> Column:
    """Signed-random-projection value: left-fold dot of the vector with
    hyperplane b (same IEEE sequence as the SQL twin).

    Plan note: higher-order-function folds run JVM-interpreted (Spark does
    not codegen HOFs) — still no Python anywhere. At 10^12 rows the
    signature stage could instead be ONE Arrow-batched numpy matmul
    (batch x dim @ dim x nbits) per partition — faster, but BLAS pairwise
    summation changes float rounding, so near-zero projections could flip
    sign vs this fold; we keep the fold for bit-reproducible semantics
    (the DuckDB oracle evaluates the identical sequence)."""
    coeffs = F.array(*[F.lit(float(srp_coeff(b, i))) for i in range(SRP_DIM)])
    return F.aggregate(
        F.zip_with(vec, coeffs, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def embedding_lsh_near_dup(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Label-free embedding near-dup via signed-random-projection LSH.

    The scale path when no semantic blocking column exists for
    `embedding_near_dup`: each vector gets a 32-bit sign signature from
    fixed pseudo-random hyperplanes (P[same bit] = 1 - angle/pi, the
    SRP-LSH guarantee); signatures are cut into 8 bands of 4 bits,
    candidates share >=1 full band
    (equi-join on (band_idx, band_value) — band keys spread uniformly, so
    no skew by construction), and exact cosine verifies candidates only.
    Returns (a, b, cos) with cos >= threshold."""
    nbits, band_size = 32, 4
    nbands = nbits // band_size
    sig = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        *[
            (srp_projection(F.col(vec_col), b) > 0).cast("int").alias(f"__b{b}")
            for b in range(nbits)
        ],
    )
    bands = sig.select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        sum(
                            F.col(f"__b{bi * band_size + j}") * (1 << j)
                            for j in range(band_size)
                        ).alias("band"),
                    )
                    for bi in range(nbands)
                ]
            )
        ).alias("bk"),
    ).select("id", "v", F.col("bk.band_idx").alias("band_idx"), F.col("bk.band").alias("band"))
    l = bands.select(F.col("id").alias("a"), F.col("v").alias("va"), "band_idx", "band")
    r = bands.select(F.col("id").alias("b"), F.col("v").alias("vb"), "band_idx", "band")
    cand = (
        l.join(r, on=["band_idx", "band"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    return (
        cand.withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs >= threshold.

    Blocked on `block_col` (IVF-coarse analog) so the pair join is an
    equi-join, never an all-pairs cross join; within-block pair scoring
    is JVM-side. Returns (a, b, cos)."""
    p = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col(block_col).alias("blk"))
    l = p.select(F.col("id").alias("a"), F.col("v").alias("va"), "blk")
    r = p.select(F.col("id").alias("b"), F.col("v").alias("vb"), "blk")
    return (
        l.join(r, on="blk").filter(F.col("a") < F.col("b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


# ---------------------------------------------------------------------------
# IVF with TRAINED centroids (pyspark.ml k-means)
# ---------------------------------------------------------------------------

MAX_TRAIN_ROWS = 100_000  # codebooks train on a sample of at most this many rows
TRAIN_SEED = 7


def _training_sample(corpus: DataFrame, vec_col: str) -> DataFrame:
    """(v) rows to train a codebook on: the corpus, or a deterministic
    sample of about MAX_TRAIN_ROWS rows of it."""
    n_rows = corpus.count()
    sample = corpus.select(F.col(vec_col).alias("v"))
    if n_rows > MAX_TRAIN_ROWS:
        sample = sample.sample(fraction=MAX_TRAIN_ROWS / n_rows, seed=TRAIN_SEED)
    return sample


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
):
    """Spherical-ish k-means codebook for IVF: L2-normalize, cluster with
    pyspark.ml KMeans (Euclidean argmin == cosine argmax on the unit
    sphere; 20 iterations, seed 7), return a unit-normalized
    (n_centroids, dim) numpy array.

    Training runs on a bounded deterministic sample (`MAX_TRAIN_ROWS`):
    codebooks converge on samples — a 10^12-row corpus trains on ~1e5 rows
    like any production IVF index — so the iterative part never scans the
    full table; only the one-pass assignment does.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = _training_sample(corpus, vec_col)
    nz = F.when(F.col("_n") == 0.0, F.lit(1.0)).otherwise(F.col("_n"))
    unit = (
        sample.withColumn("_n", norm(F.col("v")))
        .select(
            array_to_vector(
                F.transform(F.col("v"), lambda x: x.cast("double") / nz)
            ).alias("features")
        )
    )
    model = KMeans(k=n_centroids, seed=TRAIN_SEED, maxIter=20).fit(unit)
    cents = np.asarray(model.clusterCenters(), dtype=np.float64)
    norms = np.linalg.norm(cents, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return cents / norms


def ivf_assign(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    out_col: str = "cid",
    nprobe: int = 1,
) -> DataFrame:
    """Attach the `nprobe` nearest-centroid ids (array<int>, best first).

    Arrow-batched pandas UDF; the codebook rides the closure as a plain
    numpy array (no package classes cross the pickle boundary), and each
    batch is one (batch, dim) @ (dim, C) matmul — no per-row Python.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    p = int(nprobe)

    @pandas_udf("array<int>")
    def nearest(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        sims = (m / nrm) @ cents.T  # (batch, C)
        if p == 1:
            top = np.argmax(sims, axis=1)[:, None]
        else:
            top = np.argsort(-sims, kind="stable", axis=1)[:, :p]
        return pd.Series(list(top.astype(np.int32)))

    return df.withColumn(out_col, nearest(F.col(vec_col)))


def cluster_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cluster_id",
    centroid_vec: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment by cosine — zero-shuffle, fully JVM.

    The oracled counterpart of `ivf_assign`: centroids arrive as a
    DataFrame of (cluster_id, vector) rows (e.g. k-means output read back
    from parquet, or any deterministic seed set), are collected to the
    driver (k rows — the codebook is broadcast-sized by contract, same as
    every IVF path here), and are inlined as Column literals. Each input
    row evaluates k sequential-fold cosines (the same left-to-right IEEE
    fold as `cosine`, so scores are bit-identical to the DuckDB oracle)
    and takes the argmax with `array_max` over (cos, -cluster_id) structs
    — ties break toward the SMALLEST centroid id, stated and testable.

    Scale shape: a narrow map over the corpus — no join, no window, no
    shuffle of any kind; whole-stage codegen end to end. The literal
    expression tree grows with k x dim; for k beyond a few hundred use
    `ivf_assign` (numpy matmul) instead.

    Returns (vec_id, cluster_id, cos) with cos rounded to 6 places.
    """
    cents = [
        (row[0], list(row[1]))
        for row in centroids.select(centroid_id, centroid_vec).collect()
    ]
    if not cents:
        raise ValueError("cluster_assign: empty centroid set")
    vec = F.col(vec_col)
    cands = F.array(
        *[
            F.struct(
                cosine(vec, F.array(*[F.lit(float(x)) for x in cv])).alias("cos"),
                F.lit(-int(cid)).alias("negid"),
            )
            for cid, cv in cents
        ]
    )
    best = F.array_max(cands)
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        (-best["negid"]).cast("long").alias("cluster_id"),
        F.round(best["cos"], 6).alias("cos"),
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k cosine with a TRAINED coarse quantizer (classic
    IVF-Flat): k-means codebook -> corpus rows live in their nearest
    centroid's inverted list, queries probe their `nprobe` nearest lists,
    exact cosine ranks the candidates.

    The fourth leg of the ANN family: needs no pre-existing bucket column
    (vs `ann_topk_bucketed`) and adapts the partition boundaries to the
    data distribution (vs `ann_topk_lsh`'s data-oblivious hyperplanes).
    At 10^12 rows: train on a bounded sample, one Arrow-batched assignment
    pass, then a plain equi-join on cid — shuffle keys are centroid ids,
    so a skewed (hot) centroid is visible in the partition histogram and
    salt-able like any hot cell. Returns (query_id, neighbor_id, cos, rank);
    recall grows with nprobe (= exact search at nprobe == n_centroids).
    """
    centroids = train_ivf_centroids(corpus, n_centroids=n_centroids, vec_col=vec_col)
    c = ivf_assign(corpus, centroids, vec_col, "cids", nprobe=1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.get("cids", 0).alias("cid"),
    )
    q = ivf_assign(queries, centroids, vec_col, "cids", nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode("cids").alias("cid"),
    )
    scored = (
        q.join(c, on="cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search")
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
):
    """Per-subspace k-means codebooks for PQ: split the (L2-normalized)
    vector into ``m`` contiguous subspaces, cluster each into ``ksub``
    centroids. Returns a (m, ksub, dim/m) float64 numpy array.

    Training is 20 numpy Lloyd iterations over a bounded deterministic
    sample collected to the driver — the iterative part never scans the
    full table (same contract as `train_ivf_centroids`); only the
    one-pass `pq_encode` does. Deterministic: seeded init, stable argmin,
    empty clusters keep their previous centroid.
    """
    import numpy as np

    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in _training_sample(corpus, vec_col).collect()])
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    if len(X) < ksub:
        raise ValueError(f"training sample ({len(X)}) smaller than ksub={ksub}")
    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    nrm[nrm == 0.0] = 1.0
    X = X / nrm
    dsub = dim // m
    rng = np.random.default_rng(TRAIN_SEED)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        cents = Xs[rng.choice(len(Xs), ksub, replace=False)].copy()
        for _ in range(20):
            # argmin ||x - c||^2 via the dot trick: x^2 constant per row
            d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (Xs @ cents.T)
            assign = np.argmin(d, axis=1)
            for j in range(ksub):
                mask = assign == j
                if mask.any():
                    cents[j] = Xs[mask].mean(axis=0)
        books[s] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to ``m`` subspace code ids (array<smallint>) — the
    one-pass compression scan: a dim-float vector becomes m small ints
    (32x smaller at dim=64, m=8, float32 source). Arrow-batched: one
    (batch, dsub) @ (dsub, ksub) matmul per subspace, codebook rides the
    closure as a plain numpy array. Vectors are L2-normalized before
    encoding (the codebooks are trained on the unit sphere), so the ADC
    inner product approximates cosine."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape

    @pandas_udf("array<smallint>")
    def encode(vecs: pd.Series) -> pd.Series:
        Xf = np.stack(vecs.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(Xf, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        Xf = Xf / nrm
        codes = np.empty((len(Xf), m), dtype=np.int16)
        for s in range(m):
            Xs = Xf[:, s * dsub : (s + 1) * dsub]
            cents = books[s]
            d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (Xs @ cents.T)
            codes[:, s] = np.argmin(d, axis=1).astype(np.int16)
        return pd.Series(list(codes))

    return df.withColumn(out_col, encode(F.col(vec_col)))


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    refine: int = 0,
) -> DataFrame:
    """Approximate top-k cosine by asymmetric distance computation (ADC)
    over PQ codes: each query precomputes an (m, ksub) lookup table of
    subspace inner products; a corpus vector's score is the sum of m
    table lookups on its code — no float vectors are read in the scoring
    scan at all.

    Scale shape: queries are a SMALL broadcast set (same contract as
    `ann_topk`); the corpus travels as (id, m-byte code). Each partition
    emits only its local top-k per query (numpy argpartition), so the
    shuffle is n_partitions x n_queries x k rows regardless of corpus
    size; a final per-query sort picks the global top-k. With
    ``refine`` = R > 0, the top R ADC candidates are re-ranked by exact
    cosine via an id equi-join back to the corpus vectors (candidate-
    sized, not corpus-sized). Returns (query_id, neighbor_id, score,
    rank) where score is ADC (or exact cosine when refined).
    """
    books = train_pq_codebooks(corpus, m=m, ksub=ksub, vec_col=vec_col)
    return _pq_topk(corpus, queries, k, books, id_col, vec_col, refine)


def _pq_topk(corpus, queries, k, codebooks, id_col, vec_col, refine) -> DataFrame:
    """`ann_topk_pq` with the (m, ksub, dsub) codebooks given."""
    import numpy as np

    books = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, ksub, dsub = books.shape

    qrows = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")).collect()
    if not qrows:
        raise ValueError("empty query set")
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    Q = Q / qn
    # (nq, m, ksub) LUTs: subspace inner products
    luts = np.stack(
        [Q[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(m)], axis=1
    )

    coded = pq_encode(corpus, books, vec_col=vec_col).select(
        F.col(id_col).alias("nid"), F.col("pq_code")
    )
    kk = max(k, refine)

    def score_parts(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["pq_code"].to_numpy()).astype(np.int64)  # (b, m)
            nids = pdf["nid"].to_numpy()
            # gather: scores (b, nq) = sum_s luts[:, s, codes[:, s]]
            scores = np.zeros((len(codes), len(qids)))
            for s in range(m):
                scores += luts[:, s, codes[:, s]].T  # (b, nq)
            out_q, out_n, out_s = [], [], []
            for qi in range(len(qids)):
                col = scores[:, qi].copy()
                col[nids == qids[qi]] = -np.inf  # exclude self BEFORE top-k
                take = min(kk, len(col))
                idx = np.argpartition(-col, take - 1)[:take] if take < len(col) else np.arange(len(col))
                idx = idx[np.isfinite(col[idx])]
                out_q.extend([qids[qi]] * len(idx))
                out_n.extend(nids[idx])
                out_s.extend(col[idx])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "score": out_s})

    cand = coded.mapInPandas(
        score_parts, "query_id long, neighbor_id long, score double"
    )

    if refine > 0:
        pre = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id")
        )
        cand = cand.withColumn("__r", F.row_number().over(pre)).filter(
            F.col("__r") <= refine
        ).drop("__r")
        vecs = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        qdf = corpus.sparkSession.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(qids, Q)],
            f"query_id long, qv array<double>",
        )
        cand = (
            cand.join(vecs, "neighbor_id")
            .join(F.broadcast(qdf), "query_id")
            .withColumn("score", cosine(F.col("qv"), F.col("cv")))
            .select("query_id", "neighbor_id", "score")
        )

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 9).alias("score"), "rank")
    )


def ann_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    refine: int = 0,
) -> DataFrame:
    """IVF-PQ (the FAISS-standard composition): the coarse quantizer
    prunes WHICH rows are scored (queries probe their ``nprobe`` nearest
    inverted lists — an equi-join on centroid id), and product
    quantization compresses WHAT is read to score them (m-byte codes +
    per-query ADC lookup tables). At 10^12 rows the scoring scan touches
    nprobe/n_centroids of the corpus and 8 bytes per touched row instead
    of the full float vector — the two orthogonal reductions multiplied.

    The index is (id, cid, pq_code), built per call from freshly trained
    centroids and codebooks. Scoring is a vectorized pandas UDF over the
    probed join (LUT gather-sum, no per-row Python); the per-query top-k rides
    row_number (WindowGroupLimit pushes the partial top-k map-side).
    ``refine`` re-ranks the ADC top-R by exact cosine via a
    candidate-sized id join. Returns (query_id, neighbor_id, score, rank).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    centroids = train_ivf_centroids(corpus, n_centroids=n_centroids, vec_col=vec_col)
    books = train_pq_codebooks(corpus, m=m, ksub=ksub, vec_col=vec_col)
    dsub = books.shape[2]

    # index: (nid, cid, pq_code)
    index = pq_encode(
        ivf_assign(corpus, centroids, vec_col, "cids", nprobe=1),
        books, vec_col=vec_col,
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.get("cids", 0).alias("cid"),
        F.col("pq_code"),
    )

    qrows = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")).collect()
    if not qrows:
        raise ValueError("empty query set")
    qids = np.array([r["qid"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0.0] = 1.0
    Q = Q / qn
    luts = np.stack(
        [Q[:, s * dsub : (s + 1) * dsub] @ books[s].T for s in range(m)], axis=1
    )
    qpos = {int(q): i for i, q in enumerate(qids)}

    sims = Q @ centroids.T
    probes = np.argsort(-sims, kind="stable", axis=1)[:, : int(nprobe)]
    spark = corpus.sparkSession
    qprobe = spark.createDataFrame(
        [(int(q), int(c)) for qi, q in enumerate(qids) for c in probes[qi]],
        "query_id long, cid int",
    )

    @pandas_udf("double")
    def adc(query_id: pd.Series, code: pd.Series) -> pd.Series:
        codes = np.stack(code.to_numpy()).astype(np.int64)
        qi = query_id.map(qpos).to_numpy()
        s = np.zeros(len(codes))
        for j in range(m):
            s += luts[qi, j, codes[:, j]]
        return pd.Series(s)

    cand = (
        index.join(F.broadcast(qprobe), on="cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", adc(F.col("query_id"), F.col("pq_code")))
        .select("query_id", "neighbor_id", "score")
    )

    if refine > 0:
        pre = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
        cand = cand.withColumn("__r", F.row_number().over(pre)).filter(
            F.col("__r") <= refine
        ).drop("__r")
        vecs = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
        qdf = spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(qids, Q)],
            "query_id long, qv array<double>",
        )
        cand = (
            cand.join(vecs, "neighbor_id")
            .join(F.broadcast(qdf), "query_id")
            .withColumn("score", cosine(F.col("qv"), F.col("cv")))
            .select("query_id", "neighbor_id", "score")
        )

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 9).alias("score"), "rank")
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication via k-means cluster blocking
# ---------------------------------------------------------------------------

MAX_CLUSTER_ROWS = 200_000  # a larger cluster's gram matrix would OOM an executor


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop rows whose
    embedding is within cosine `threshold` of a LOWER-id row in the same
    k-means cluster. Returns the survivors as (id, cid).

    This is the semantic sibling of dedup.minhash_lsh_pairs: k-means
    clusters play the role of LSH buckets, bounding the pairwise work to
    within-cluster — the exact design of the paper (they dedup 5B
    embeddings with ~50k clusters). The quadratic term is sum(c_i^2)
    over cluster sizes, controlled by `n_clusters`, which the caller
    scales with the corpus (n_clusters ~ N / desired_cluster_size).

    Per-cluster work runs as groupBy(cid).applyInPandas: one shuffle on
    cid, then each cluster is a single (c, dim) @ (dim, c) numpy gram
    matrix — no per-row Python, no all-pairs join. A cluster larger than
    `MAX_CLUSTER_ROWS` fails LOUD (it means n_clusters is undersized for
    the corpus; silently materializing an O(c^2) gram would OOM the
    executor). Ids are processed in sorted order so "lower-id neighbor
    exists" is evaluated against the full cluster deterministically.

    Determinism contract: the keep-set is exactly
      {i : no j < i in cluster(i) with cos(v_i, v_j) >= threshold}
    — the transitive-chain variant (keep one per connected component)
    is dedup.dup_clusters over the pair list; this operator is the
    paper's cheaper representative-per-cluster rule.
    """
    import numpy as np

    if n_clusters <= 1:
        # degenerate blocking (the brute-force reference shape used by the
        # pytest equivalence property); pyspark.ml KMeans requires k > 1
        assigned = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.lit(0).alias("cid"),
        )
    else:
        centroids = train_ivf_centroids(df, n_centroids=n_clusters, vec_col=vec_col)
        assigned = ivf_assign(df, centroids, vec_col=vec_col, out_col="_cids", nprobe=1)
        assigned = assigned.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.col("_cids")[0].alias("cid"),
        )

    thr = float(threshold)
    cap = MAX_CLUSTER_ROWS

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cap:
            raise ValueError(
                f"semantic_dedup: cluster {int(pdf['cid'].iloc[0])} has "
                f"{len(pdf)} rows > MAX_CLUSTER_ROWS={cap}; raise n_clusters "
                f"(the paper uses n_clusters ~ N / target_cluster_size)"
            )
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        m = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        u = m / nrm
        sims = u @ u.T
        # strictly-lower triangle: does any earlier (lower-id) row match?
        dup = (np.tril(sims >= thr, k=-1)).any(axis=1)
        keep = pdf.loc[~dup, ["id", "cid"]]
        return keep

    out = assigned.groupBy("cid").applyInPandas(prune, "id long, cid int")
    return out.select("id", "cid")


# ---------------------------------------------------------------------------
# geodesic (great-circle) kNN
# ---------------------------------------------------------------------------

EARTH_RADIUS_M = 6_371_008.8  # IUGG mean radius
FIXED_POINT = 10_000_000.0  # OSM 1e-7 degree fixed-point scale


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters between two fixed-point (1e-7 deg)
    coordinate pairs — pure JVM trig (whole-stage codegen, no Python).

    d = 2R asin(sqrt(sin^2(dphi/2) + cos(phi1) cos(phi2) sin^2(dlambda/2)))

    The planar dist2 used by knn_cellring/knn_exact is the right metric
    for reference parity (osmium's coordinates are planar fixed-point);
    this is the true spherical metric for analytics that care about
    meters — at lat 60 a degree of longitude is half a degree of
    latitude, which planar distance gets wrong by 2x.
    """
    phi1 = F.radians(lat1 / FIXED_POINT)
    phi2 = F.radians(lat2 / FIXED_POINT)
    dphi = F.radians((lat2 - lat1) / FIXED_POINT)
    dlam = F.radians((lon2 - lon1) / FIXED_POINT)
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(phi1) * F.cos(phi2) * F.sin(dlam / 2) * F.sin(dlam / 2)
    )
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def knn_geodesic(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "id",
) -> DataFrame:
    """EXACT great-circle k nearest neighbors for a (small) query batch:
    (query_id, neighbor_id, dist_m, rank).

    Plan shape: broadcast the query batch, score corpus x queries with the
    codegen'd haversine Column, rank<=k per query — Spark compiles the
    rank filter to WindowGroupLimit with a PARTIAL map-side pass, so each
    task forwards at most queries x k rows into the single exchange; the
    corpus never shuffles. Exact scoring is inherently corpus-scan-sized
    (same contract as ann_topk); for index-accelerated planar kNN at
    10^12 rows use knn_cellring/knn_exact — the cell-ring certified
    radius is a planar bound and does not transfer to meters near the
    poles, so the geodesic variant stays brute-force-exact by design.

    Distances are quantized (round to 3 dp = millimeters) BEFORE
    ranking so libm ulp differences between engines cannot flip
    near-tie ranks; ties break on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col("lon").alias("qlon"),
        F.col("lat").alias("qlat"),
    )
    cand = points.select(
        F.col(id_col).alias("neighbor_id"), F.col("lon"), F.col("lat")
    ).crossJoin(F.broadcast(q))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            haversine_m(F.col("lon"), F.col("lat"), F.col("qlon"), F.col("qlat")), 3
        ).alias("dist_m"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist_m").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist_m", "rank")
    )


def topk_recall(approx: DataFrame, truth: DataFrame) -> DataFrame:
    """Recall@k of an ANN result against exact ground truth — the
    quality gauge every approximate index (bucketed/LSH/IVF/PQ) is
    tuned by. Inputs are two top-k tables in the engine's standard
    shape (query_id, neighbor_id, rank, ...). Returns per-query (query_id, n_truth, n_hit, recall)
    with recall = n_hit / n_truth (ONE division of small exact
    integers — bit-stable across engines).

    Scale shape: both inputs are |queries| x k rows — index-output
    scale, not corpus scale; one equi-join on (query_id, neighbor_id)
    + two hash-aggs. The corpus is never touched: measuring recall
    costs the same whether the index covers 10^6 or 10^12 vectors
    (the truth side is the expensive part and is typically sampled —
    pass a query SAMPLE's exact top-k)."""
    t = truth.select("query_id", "neighbor_id")
    hits = (
        approx.select("query_id", "neighbor_id").join(t, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    base = t.groupBy("query_id").agg(F.count("*").alias("n_truth"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "n_truth",
        F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).cast("double")
            / F.col("n_truth").cast("double")
        ).alias("recall"),
    )

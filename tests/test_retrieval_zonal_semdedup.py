"""Round-4c operators: BM25 retrieval, zonal statistics, SemDeDup.

Gate queries cover the DuckDB-oracle parity (bm25_topk / zonal_stats) and
rows-only for semantic_dedup; these tests pin the properties the oracle
can't express: BM25 ordering sanity, the SemDeDup n_clusters=1 ==
brute-force equivalence, the loud over-sized-cluster guard, and zonal
aggregation == per-row assignment + pandas groupby.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def _mini_docs(spark):
    rows = [
        (0, "spark shuffle join broadcast join"),
        (1, "spark window agg"),
        (2, "broadcast hash join skew salt"),
        (3, "totally unrelated words here banana"),
        (4, "join join join join"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_self_retrieval(spark):
    """A document queried by its own full text ranks itself first."""
    from osmium_tool_spark.operators.retrieval import bm25_topk

    docs = _mini_docs(spark)
    qs = docs.select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext")
    )
    out = bm25_topk(docs, qs, k=3).collect()
    top = {r.query_id: r.doc_id for r in out if r.rank == 1}
    assert top == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bm25_matches_reference_formula(spark):
    """Scores equal a straight numpy re-computation of Lucene BM25."""
    from osmium_tool_spark.operators.retrieval import bm25_topk

    docs = _mini_docs(spark)
    qs = spark.createDataFrame([(100, "broadcast join")], "query_id long, qtext string")
    got = {r.doc_id: r.score for r in bm25_topk(docs, qs, k=5).collect()}

    corpus = {r.doc_id: r.text.split() for r in docs.collect()}
    n = len(corpus)
    avgdl = sum(len(t) for t in corpus.values()) / n
    k1, b = 1.2, 0.75

    def df(term):
        return sum(term in t for t in corpus.values())

    exp = {}
    for d, toks in corpus.items():
        s = 0.0
        for term in ("broadcast", "join"):
            tf = toks.count(term)
            if tf == 0:
                continue
            idf = math.log(1 + (n - df(term) + 0.5) / (df(term) + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        if s > 0:
            exp[d] = round(s, 6)
    assert got == pytest.approx(exp)


# ---------------------------------------------------------------------------
# zonal stats
# ---------------------------------------------------------------------------


def test_zonal_stats_equals_per_row_assignment(spark):
    from osmium_tool_spark.functions.geometry import Extract
    from osmium_tool_spark.operators.extract import assign_extracts
    from osmium_tool_spark.operators.tiles import zonal_stats
    from osmium_tool_spark.sources import testdata as td

    part = td.load(spark, SF_DIR, "part")
    pts = part.select(
        F.col("p_partkey").alias("id"),
        td.lon_expr(F.col("p_partkey")).cast("long").alias("lon"),
        td.lat_expr(F.col("p_partkey")).cast("long").alias("lat"),
        F.col("p_size").cast("long").alias("size"),
    )
    r = 999_999_999
    ring = np.array([(r, 0), (0, r), (-r, 0), (0, -r), (r, 0)], dtype=np.int64)
    extracts = [Extract.polygon(0, [ring]), Extract.bbox(1, -120.0, -60.0, 45.5, 70.25)]

    zs = {
        row.extract_id: row
        for row in zonal_stats(
            pts, extracts, measures={"sum_size": F.sum("size")}, payload_cols=["size"]
        ).collect()
    }
    asg = (
        assign_extracts(pts, extracts, payload_cols=["size"])
        .toPandas()
        .groupby("extract_id")["size"]
    )
    assert set(zs) == set(asg.groups)
    for eid, grp in asg:
        assert zs[eid].n == len(grp)
        assert zs[eid].sum_size == grp.sum()


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def _brute_force_survivors(rows, thr):
    """The operator's documented contract: drop i iff ANY lower-id row j
    (kept or not) has cos(v_i, v_j) >= thr."""
    ids = sorted(r[0] for r in rows)
    vecs = {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}
    keep = []
    for pos, i in enumerate(ids):
        vi = vecs[i]
        ni = np.linalg.norm(vi) or 1.0
        dup = False
        for j in ids[:pos]:
            vj = vecs[j]
            nj = np.linalg.norm(vj) or 1.0
            if float(vi @ vj) / (ni * nj) >= thr:
                dup = True
                break
        if not dup:
            keep.append(i)
    return set(keep)


def test_semantic_dedup_one_cluster_equals_brute_force(spark):
    """With n_clusters=1 the cluster blocking is a no-op, so the keep-set
    must equal the quadratic lower-id-neighbor rule exactly."""
    from osmium_tool_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = [(r.vec_id, r.embedding) for r in emb.collect()]
    thr = 0.35
    expected = _brute_force_survivors(rows, thr)
    got = {
        r.id
        for r in semantic_dedup(emb, threshold=thr, n_clusters=1, id_col="vec_id").collect()
    }
    assert got == expected
    assert len(got) < len(rows)  # the threshold actually prunes something


def test_semantic_dedup_cluster_cap_fails_loud(spark, monkeypatch):
    from osmium_tool_spark.operators import similarity

    monkeypatch.setattr(similarity, "MAX_CLUSTER_ROWS", 3)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(Exception, match="MAX_CLUSTER_ROWS"):
        similarity.semantic_dedup(emb, threshold=0.9, n_clusters=1, id_col="vec_id").collect()


def test_semantic_dedup_survivors_unique_and_subset(spark):
    from osmium_tool_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = semantic_dedup(emb, threshold=0.35, n_clusters=8, id_col="vec_id")
    pdf = out.toPandas()
    assert pdf["id"].is_unique
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert set(pdf["id"]).issubset(all_ids)


# ---------------------------------------------------------------------------
# normalize_text
# ---------------------------------------------------------------------------


def test_normalize_text_nfc_and_controls(spark):
    from osmium_tool_spark.operators.text import normalize_text

    rows = [
        (0, "plain ascii"),
        (1, "café composed"),          # NFD e+acute -> NFC é
        (2, "ctrl\x07here\x00too"),           # 2 control chars stripped
        (3, "  spaced\tout\n\nrun  "),        # whitespace collapse + trim
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in normalize_text(df).collect()}
    assert got[0].text_norm == "plain ascii" and not got[0].changed
    assert got[1].text_norm == "café composed" and got[1].changed
    assert got[2].text_norm == "ctrlheretoo" and got[2].n_ctrl == 2
    assert got[3].text_norm == "spaced out run" and got[3].n_ctrl == 0


def test_normalize_text_ascii_passthrough_matches(spark):
    """The ASCII fast path must be output-identical to the normalize path."""
    from osmium_tool_spark.operators.text import normalize_text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    a = sorted(map(tuple, normalize_text(docs).select("doc_id", "text_norm").collect()))
    forced = docs.withColumn("text", F.concat(F.col("text"), F.lit("́")))
    # appending a combining mark defeats the fast path for every row
    b = normalize_text(forced).select("doc_id", "text_norm").collect()
    b = sorted((r.doc_id, r.text_norm) for r in b)
    # strip the synthesized suffix (NFC composes it onto the last char) —
    # compare row counts + prefix equality instead of full equality
    assert len(a) == len(b)
    for (ida, ta), (idb, tb) in zip(a, b):
        assert ida == idb
        assert tb.startswith(ta[:-1])


# ---------------------------------------------------------------------------
# geodesic kNN
# ---------------------------------------------------------------------------


def test_haversine_known_distances(spark):
    from osmium_tool_spark.operators.similarity import haversine_m

    df = spark.createDataFrame(
        [
            # one degree of longitude at the equator ~ 111.195 km
            (0, 0, 0, 10_000_000, 0),
            # one degree of longitude at lat 60 ~ half that
            (1, 0, 600_000_000, 10_000_000, 600_000_000),
            # self distance
            (2, 123_456_789, 456_789_123, 123_456_789, 456_789_123),
        ],
        "i long, lon1 long, lat1 long, lon2 long, lat2 long",
    )
    got = {
        r.i: r.d
        for r in df.select(
            "i", haversine_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("d")
        ).collect()
    }
    assert got[0] == pytest.approx(111_195, rel=1e-3)
    assert got[1] == pytest.approx(111_195 * math.cos(math.radians(60)), rel=1e-3)
    assert got[2] == 0.0


def test_knn_geodesic_self_is_rank_one(spark):
    from osmium_tool_spark.operators.similarity import knn_geodesic
    from osmium_tool_spark.sources import testdata as td

    nodes = td.nodes_from_part(spark, SF_DIR).select("id", "lon", "lat")
    qs = nodes.filter(F.col("id") % 97 == 0)
    out = knn_geodesic(nodes, qs, k=3)
    firsts = {r.query_id: (r.neighbor_id, r.dist_m) for r in out.collect() if r.rank == 1}
    assert firsts and all(nid == qid and d == 0.0 for qid, (nid, d) in firsts.items())


def test_knn_geodesic_beats_planar_at_high_latitude(spark):
    """At lat ~60 the nearest neighbor in meters differs from the planar
    fixed-point nearest: a point 1.0 deg east must be CLOSER in meters
    than one 0.6 deg north, though planar distance says otherwise."""
    from osmium_tool_spark.operators.similarity import knn_geodesic

    pts = spark.createDataFrame(
        [
            (1, 10_000_000, 600_000_000),  # 1.0 deg east of query (at lat 60)
            (2, 0, 606_000_000),           # 0.6 deg north of query
        ],
        "id long, lon long, lat long",
    )
    q = spark.createDataFrame([(0, 0, 600_000_000)], "id long, lon long, lat long")
    out = knn_geodesic(pts, q, k=2).collect()
    by_rank = {r.rank: r.neighbor_id for r in out}
    assert by_rank == {1: 1, 2: 2}  # planar would rank 2 first (0.6 < 1.0 deg)

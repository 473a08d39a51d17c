"""Round-4 additions: hybrid RRF fusion, char-bigram LM quality score,
oracled nearest-centroid assignment."""

import math

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.retrieval import rrf_fuse
from osmium_tool_spark.operators.similarity import cluster_assign
from osmium_tool_spark.operators.text import char_bigrams, lm_quality_score


# ---------------------------------------------------------------- rrf_fuse


def _ranking(spark, rows):
    return spark.createDataFrame(rows, "query_id long, doc_id long, rank long")


def test_rrf_hand_computed(spark):
    lex = _ranking(spark, [(1, 10, 1), (1, 11, 2), (1, 12, 3)])
    vec = _ranking(spark, [(1, 11, 1), (1, 10, 2), (1, 13, 3)])
    out = {
        r["doc_id"]: (r["rrf"], r["rank"])
        for r in rrf_fuse([lex, vec], k=10, c=60).collect()
    }
    # doc 10: 1/61 + 1/62; doc 11: 1/62 + 1/61 (tie with 10 -> doc id asc)
    both = round(1 / 61 + 1 / 62, 9)
    assert out[10] == (both, 1)
    assert out[11] == (both, 2)
    # docs present in one system only contribute that system's term
    assert out[12] == (round(1 / 63, 9), 3)
    assert out[13] == (round(1 / 63, 9), 4)


def test_rrf_top_k_cut(spark):
    lex = _ranking(spark, [(7, d, d) for d in range(1, 30)])
    out = rrf_fuse([lex], k=5).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 3, 4, 5]
    assert all(r["rank"] <= 5 for r in out)


def test_rrf_multiple_queries_independent(spark):
    lex = _ranking(spark, [(1, 10, 1), (2, 20, 1)])
    vec = _ranking(spark, [(1, 10, 1), (2, 21, 1)])
    out = rrf_fuse([lex, vec], k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q[1][0]["doc_id"] == 10 and by_q[1][0]["rrf"] == round(2 / 61, 9)
    assert {r["doc_id"] for r in by_q[2]} == {20, 21}


# --------------------------------------------------------- lm_quality_score


def test_char_bigrams_short_strings(spark):
    df = spark.createDataFrame([("",), ("a",), ("ab",), ("abc",)], "text string")
    got = [r[0] for r in df.select(char_bigrams(F.col("text"))).collect()]
    assert got == [[], [], ["ab"], ["ab", "bc"]]


def test_lm_self_trained_hand_computed(spark):
    # corpus: "abab" (bigrams ab,ba,ab), "abba" (ab,bb,ba)
    docs = spark.createDataFrame(
        [(1, "abab"), (2, "abba")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in lm_quality_score(docs).collect()}
    # counts: ab=3, ba=2, bb=1; ctx a=3, b=3; V = |{b,a}| = 2
    p_ab = (3 + 1) / (3 + 2)
    p_ba = (2 + 1) / (3 + 2)
    p_bb = (1 + 1) / (3 + 2)
    exp1 = round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 6)
    exp2 = round((math.log(p_ab) + math.log(p_bb) + math.log(p_ba)) / 3, 6)
    assert out[1]["n_bigrams"] == 3 and out[1]["lm_logp"] == pytest.approx(exp1)
    assert out[2]["n_bigrams"] == 3 and out[2]["lm_logp"] == pytest.approx(exp2)


def test_lm_flags_out_of_distribution(spark):
    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    rows.append((99, "zqxj vkpw qzzx jjjj wwww"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lm_logp"] for r in lm_quality_score(docs).collect()}
    in_dist = [v for k, v in out.items() if k != 99]
    assert out[99] < min(in_dist)  # garbage scores strictly worse


def test_lm_docs_under_two_chars_absent(spark):
    docs = spark.createDataFrame(
        [(1, "hello"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    assert [r["doc_id"] for r in lm_quality_score(docs).collect()] == [1]


# ----------------------------------------------------------- cluster_assign


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cluster_assign_nearest_and_ties(spark):
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        "cluster_id long, embedding array<float>",
    )
    vs = _vecs(
        spark,
        [
            (1, [0.9, 0.1]),   # -> 10
            (2, [0.1, 0.9]),   # -> 20
            (3, [0.5, 0.5]),   # exact tie -> smallest centroid id 10
        ],
    )
    out = {r["vec_id"]: r for r in cluster_assign(vs, cents).collect()}
    assert out[1]["cluster_id"] == 10
    assert out[2]["cluster_id"] == 20
    assert out[3]["cluster_id"] == 10
    assert out[3]["cos"] == pytest.approx(math.cos(math.pi / 4), abs=1e-6)


def test_cluster_assign_matches_numpy_argmax(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    corpus = rng.normal(size=(50, 8)).astype(np.float32)
    cents = rng.normal(size=(4, 8)).astype(np.float32)
    vs = _vecs(spark, [(i, [float(x) for x in corpus[i]]) for i in range(50)])
    cdf = spark.createDataFrame(
        [(j, [float(x) for x in cents[j]]) for j in range(4)],
        "cluster_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r["cluster_id"] for r in cluster_assign(vs, cdf).collect()}
    c64 = cents.astype(np.float64)
    v64 = corpus.astype(np.float64)
    sims = (v64 / np.linalg.norm(v64, axis=1, keepdims=True)) @ (
        c64 / np.linalg.norm(c64, axis=1, keepdims=True)
    ).T
    for i in range(50):
        assert got[i] == int(np.argmax(sims[i]))


def test_cluster_assign_empty_centroids_raises(spark):
    vs = _vecs(spark, [(1, [1.0, 0.0])])
    empty = spark.createDataFrame([], "cluster_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty centroid"):
        cluster_assign(vs, empty)


def test_cluster_assign_plan_is_shuffle_free(spark):
    vs = _vecs(spark, [(i, [float(i), 1.0]) for i in range(10)])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cluster_id long, embedding array<float>"
    )
    plan = cluster_assign(vs, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

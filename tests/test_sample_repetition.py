"""Balanced sampling, Gopher repetition signals, and C4 line dedup."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.dedup import line_dedup, word_grams
from osmium_tool_spark.operators.sample import (
    balanced_sample,
    sample_hash,
    stratified_quota_sample,
)
from osmium_tool_spark.operators.text import repetition_stats


# ---------------------------------------------------------------------------
# balanced_sample / stratified_quota_sample
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def keyed(spark):
    # 3 keys with populations 10 / 3 / 1
    rows = [(i, "a") for i in range(10)] + [(100 + i, "b") for i in range(3)] + [(200, "c")]
    return spark.createDataFrame(rows, "id long, key string")


def test_balanced_sample_caps_per_key(keyed):
    out = balanced_sample(keyed, ["key"], k=3, id_col="id").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r)
    assert len(by_key["a"]) == 3  # capped
    assert len(by_key["b"]) == 3  # exactly k available
    assert len(by_key["c"]) == 1  # fewer than k -> all
    for rs in by_key.values():
        assert sorted(r.sample_rank for r in rs) == list(range(1, len(rs) + 1))


def test_balanced_sample_deterministic(keyed):
    a1 = sorted(r.id for r in balanced_sample(keyed, ["key"], 3, "id").collect())
    a2 = sorted(r.id for r in balanced_sample(keyed, ["key"], 3, "id").collect())
    assert a1 == a2  # same input -> same sample


def test_balanced_sample_order_is_hash_of_id(keyed):
    out = balanced_sample(keyed, ["key"], k=10, id_col="id").collect()
    ranks = {r.id: r.sample_rank for r in out if r.key == "a"}
    hs = keyed.filter(F.col("key") == "a").select(
        "id", sample_hash(F.col("id")).alias("h")
    ).collect()
    expect = [r.id for r in sorted(hs, key=lambda r: (r.h, r.id))]
    assert [i for i, _ in sorted(ranks.items(), key=lambda kv: kv[1])] == expect


def test_balanced_sample_plan_has_window_group_limit(keyed):
    """row_number<=k must compile to WindowGroupLimit: the map-side partial
    top-k is what bounds dense-key skew at 100 TB."""
    plan = balanced_sample(keyed, ["key"], 3, "id")._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_balanced_sample_rejects_bad_k(keyed):
    with pytest.raises(ValueError):
        balanced_sample(keyed, ["key"], 0, "id")


def test_stratified_quota(keyed):
    out = stratified_quota_sample(keyed, "key", {"a": 2, "c": 5}, id_col="id", default_k=1)
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r.key, []).append(r.id)
    assert len(by_key["a"]) == 2
    assert len(by_key["b"]) == 1  # default_k
    assert len(by_key["c"]) == 1  # quota 5 but only 1 row


def test_stratified_quota_drop_default(keyed):
    out = stratified_quota_sample(keyed, "key", {"a": 1}, id_col="id", default_k=0)
    assert {r.key for r in out.collect()} == {"a"}


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------


def test_word_grams_keeps_multiplicity(spark):
    df = spark.createDataFrame([("a b a b a",), ("x",), ("",)], "t string")
    got = [r[0] for r in df.select(word_grams(F.col("t"), 2)).collect()]
    assert got[0] == ["a b", "b a", "a b", "b a"]
    assert got[1] == [] and got[2] == []


def test_repetition_stats_duplicate_lines(spark):
    text = "aa bb\ncc dd\naa bb\nee"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r.n_lines == 4
    # 4 lines, 3 distinct -> 1/4 duplicated
    assert r.dup_line_frac == pytest.approx(0.25)
    # "aa bb" occurs twice (2*5 chars) of 5+5+5+2 line chars
    assert r.dup_line_char_frac == pytest.approx(round(10 / 17, 6))


def test_repetition_stats_top_gram(spark):
    # "a b" appears 3x (9 grams total), text length 19
    text = "a b a b a b x y z x"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r.top_gram == "b a" or r.top_gram == "a b"
    # counts: "a b" 3, "b a" 2 -> top must be "a b"
    assert r.top_gram == "a b" and r.top_gram_count == 3
    assert r.top_gram_char_frac == pytest.approx(round(3 * 3 / len(text), 6))


def test_repetition_stats_tiebreak_largest_gram(spark):
    # "a b" and "b a" both occur twice; deterministic winner = max gram
    df = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r.top_gram == "b a" and r.top_gram_count == 2


def test_repetition_stats_no_grams(spark):
    df = spark.createDataFrame([(1, "single")], "doc_id long, text string")
    r = repetition_stats(df).collect()[0]
    assert r.top_gram == "" and r.top_gram_count == 0 and r.top_gram_char_frac == 0.0
    assert r.n_lines == 1 and r.dup_line_frac == 0.0


# ---------------------------------------------------------------------------
# line_dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def boiler_docs(spark):
    rows = [
        (1, "unique first line\nshared boilerplate footer\nok"),
        (2, "another unique line\nShared Boilerplate Footer  \nmore"),
        (3, "third doc body\nshared boilerplate footer"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_dedup_removes_cross_doc_lines(boiler_docs):
    out = {r.id: r for r in line_dedup(boiler_docs, min_line_chars=5).collect()}
    # normalized (lower+trim) footer appears in all 3 docs -> removed
    assert out[1].text_clean == "unique first line\nok"
    assert out[2].text_clean == "another unique line\nmore"
    assert out[3].text_clean == "third doc body"
    assert out[1].n_removed == 1 and out[1].n_kept == 2
    assert out[3].n_kept == 1


def test_line_dedup_short_lines_exempt(spark):
    # "ok" (<min_line_chars) repeats across docs but is never removed
    rows = [(1, "ok\nlongish unique a"), (2, "ok\nlongish unique b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r.text_clean for r in line_dedup(df, min_line_chars=5).collect()}
    assert out[1] == "ok\nlongish unique a"


def test_line_dedup_intra_doc_repeat_kept(spark):
    # repeated within ONE doc only -> count(DISTINCT doc) = 1 -> kept
    df = spark.createDataFrame(
        [(1, "repeated line here\nmiddle\nrepeated line here"), (2, "other doc")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in line_dedup(df, min_line_chars=5).collect()}
    assert out[1].n_removed == 0


def test_line_dedup_all_removed_keeps_doc_row(spark):
    df = spark.createDataFrame(
        [(1, "same line"), (2, "same line")], "doc_id long, text string"
    )
    out = {r.id: r for r in line_dedup(df, min_line_chars=5).collect()}
    assert out[1].text_clean == "" and out[1].n_kept == 0 and out[1].n_removed == 1
    assert set(out) == {1, 2}


# ---------------------------------------------------------------------------
# bernoulli_sample
# ---------------------------------------------------------------------------


def test_bernoulli_sample_deterministic_and_rate(spark):
    from osmium_tool_spark.operators.sample import bernoulli_sample

    df = spark.range(20_000)
    a = bernoulli_sample(df, 0.25, id_col="id").count()
    b = bernoulli_sample(df, 0.25, id_col="id").count()
    assert a == b  # same verdicts every run
    assert abs(a / 20_000 - 0.25) < 0.02  # rate approximately honored


def test_bernoulli_sample_weighted(spark):
    from pyspark.sql import functions as F

    from osmium_tool_spark.operators.sample import bernoulli_sample

    df = spark.range(20_000).withColumn(
        "q", F.when(F.col("id") % 2 == 0, 2.0).otherwise(0.5)
    )
    out = bernoulli_sample(df, 0.2, id_col="id", weight=F.col("q"))
    rates = {
        r["k"]: r["n"] / 10_000
        for r in out.groupBy((F.col("id") % 2).alias("k")).agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert abs(rates[0] - 0.4) < 0.03  # weight 2.0 -> 2x base rate
    assert abs(rates[1] - 0.1) < 0.02  # weight 0.5 -> half base rate


def test_bernoulli_sample_rejects_bad_rate(spark):
    from osmium_tool_spark.operators.sample import bernoulli_sample

    with pytest.raises(ValueError):
        bernoulli_sample(spark.range(5), 1.5, id_col="id")

"""dedup + text operators over hand-built micro-corpora."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_shingles,
    word_tokens,
)
from osmium_tool_spark.operators.text import (
    fingerprint,
    quality_score,
    text_metrics,
    token_counts,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 1
        (3, "completely different words entirely here now friend", "en"),
        (4, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (5, "der hund ist nicht schnell und die katze auch nicht", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_word_tokens_drops_empties(spark):
    df = spark.createDataFrame([("a  b c",)], "t string")
    assert df.select(word_tokens(F.col("t"))).collect()[0][0] == ["a", "b", "c"]


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("one two",), ("",)], "t string")
    got = df.select(word_shingles(F.col("t"), 3)).collect()
    assert got[0][0] == [] and got[1][0] == []


def test_exact_dedup(docs):
    out = {r.keeper_id: r.n_copies for r in
           exact_dedup(docs, F.col("text"), F.col("doc_id")).collect()}
    assert out[1] == 2  # docs 1 and 4 identical, keeper = min id
    assert out[2] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.a, r.b): r.jaccard for r in
             ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()}
    assert pairs[(1, 4)] == 1.0       # exact dup
    assert 0.3 <= pairs[(1, 2)] < 1.0  # near dup (one word differs)
    assert (1, 3) not in pairs


def test_minhash_agrees_with_exact_on_high_sim(docs):
    got = {(r.a, r.b) for r in
           minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    # exact dups always share every band; near-dups should be found too
    assert (1, 4) in got and (1, 2) in got


def test_simhash_exact_dup_zero_distance(docs):
    pairs = {(r.a, r.b): r.hamming for r in
             simhash_pairs(docs, "doc_id", "text", max_hamming=32, block_col="lang").collect()}
    assert pairs[(1, 4)] == 0
    # cross-language pair blocked out
    assert not any(5 in p for p in pairs)


def test_lang_id_deterministic_tie_break(spark):
    # no marker hits at all -> score 0, tie -> lexicographically first code
    df = spark.createDataFrame([(1, "zzz qqq")], "doc_id long, text string")
    r = text_metrics(df).collect()[0]
    assert r.pred_lang == "de" and r.score == 0


def test_lang_id_picks_max(docs):
    out = {r.id: r.pred_lang for r in text_metrics(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "de"


def test_quality_score(spark):
    df = spark.createDataFrame([(1, "the cat sat")], "doc_id long, text string")
    r = quality_score(df).collect()[0]
    assert r.n_tokens == 3
    assert r.mean_token_len == pytest.approx(3.0)
    assert r.stopword_ratio == pytest.approx(1 / 3, abs=1e-6)


def test_token_counts(docs):
    out = {r.token: r.cnt for r in token_counts(docs, min_count=2).collect()}
    assert out["the"] == 6  # 2 per en doc x 3 docs with "the ... the"


def test_fingerprint_stable_and_distinct(docs):
    fps = {r.id: r.fp for r in fingerprint(docs).collect()}
    assert fps[1] == fps[4]
    assert fps[1] != fps[2]


def test_curate_documents(spark):
    from osmium_tool_spark.operators.curation import curate_documents

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs very far away today", "en"),
        (2, "the quick brown fox jumps over the lazy dog and runs very far away today", "en"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog and runs very far away now", "en"),    # near dup
        (4, "tiny", "en"),                                                                      # too short
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi", "en"),     # keeper
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = curate_documents(docs, min_tokens=5, jaccard_threshold=0.5, max_stopword_ratio=0.5)
    kept = {r.doc_id for r in out.collect()}
    assert kept == {1, 5}  # 2 exact-dup dropped, 3 near-dup dropped, 4 short


# -- dup_clusters: distributed connected components over near-dup pairs --


def _uf_clusters(pairs, all_ids):
    """Driver-side union-find reference implementation."""
    parent = {i: i for i in all_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min id per component
    comp = {}
    for i in all_ids:
        comp.setdefault(find(i), []).append(i)
    return {i: min(members) for r, members in comp.items() for i in members}


def _cluster_df(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_dup_clusters_chain_needs_iterations(spark):
    """A 12-node path graph exercises multi-round convergence (naive
    1-round propagation would stop with wrong labels)."""
    from osmium_tool_spark.operators.dedup import dup_clusters

    pairs = [(i, i + 1) for i in range(1, 12)]
    out = dup_clusters(_cluster_df(spark, pairs)).collect()
    assert {r.id for r in out} == set(range(1, 13))
    assert {r.cluster_id for r in out} == {1}


def test_dup_clusters_matches_union_find(spark):
    """Random-ish fixed graph vs driver-side union-find."""
    from osmium_tool_spark.operators.dedup import dup_clusters

    ids = list(range(1, 41))
    pairs = [((i * 7) % 40 + 1, (i * 13) % 40 + 1) for i in range(25)]
    pairs = [(a, b) for a, b in pairs if a != b]
    expected = _uf_clusters(pairs, ids)
    ids_df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = dup_clusters(_cluster_df(spark, pairs), ids=ids_df).collect()
    got = {r.id: r.cluster_id for r in out}
    assert len(out) == len(got) == 40  # no id twice
    assert got == expected


def test_dup_clusters_singletons_and_empty(spark):
    from osmium_tool_spark.operators.dedup import dup_clusters

    ids_df = spark.createDataFrame([(i,) for i in (1, 2, 3)], "doc_id long")
    empty = spark.createDataFrame([], "a long, b long")
    out = {r.id: r.cluster_id for r in dup_clusters(empty, ids=ids_df).collect()}
    assert out == {1: 1, 2: 2, 3: 3}
    # two components + one singleton
    out2 = {
        r.id: r.cluster_id
        for r in dup_clusters(_cluster_df(spark, [(1, 2)]), ids=ids_df).collect()
    }
    assert out2 == {1: 1, 2: 1, 3: 3}


def test_dup_clusters_on_ngram_pairs(docs):
    """End-to-end: docs 1/2/4 form one near-dup cluster; representative is
    the min doc_id."""
    from osmium_tool_spark.operators.dedup import dup_clusters

    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)
    spark = docs.sparkSession
    out = {
        r.id: r.cluster_id
        for r in dup_clusters(pairs, ids=docs.select("doc_id")).collect()
    }
    assert out == {1: 1, 2: 1, 4: 1, 3: 3, 5: 5}


def test_scrub_pii_masks_and_counts(spark):
    from osmium_tool_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@ex-ample.co.uk now"),
            (2, "server 10.0.255.7 port"),
            (3, "call +44 (0)20 7946-0958 today"),
            (4, "mix a@b.io and 1.2.3.4 and +1 555 123 4567"),
            (5, "clean text with no pii at all"),
        ],
        "doc_id long, body string",
    )
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["body_clean"] == "mail <EMAIL> now"
    assert out[1]["n_email"] == 1 and out[1]["pii_total"] == 1
    assert out[2]["body_clean"] == "server <IP> port"
    assert "<PHONE>" in out[3]["body_clean"]
    assert out[4]["n_email"] == 1 and out[4]["n_ipv4"] == 1 and out[4]["n_phone"] == 1
    assert out[4]["body_clean"] == "mix <EMAIL> and <IP> and <PHONE>"
    assert out[5]["body_clean"] == out[5]["body"] and out[5]["pii_total"] == 0


def test_scrub_pii_order_protects_masked_spans(spark):
    """Emails are masked before the phone rule can eat their digit runs;
    IPs before phones so a dotted quad is not counted as a phone."""
    from osmium_tool_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "ip 192.168.100.200 only")], "doc_id long, body string"
    )
    r = scrub_pii(df).collect()[0]
    assert r["n_ipv4"] == 1 and r["n_phone"] == 0
    assert r["body_clean"] == "ip <IP> only"


class TestContamination:
    def _docs(self, spark):
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely different sentence entirely here"),
            (3, "quick brown fox is a common phrase"),
            (4, "nothing shared with anything else at all"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_flags_overlap(self, spark):
        from osmium_tool_spark.operators.text import contamination_flags

        docs = self._docs(spark)
        bench = docs.filter("doc_id = 1")  # eval set = doc 1
        got = {r["doc_id"]: (r["n_hits"], r["contaminated"])
               for r in contamination_flags(docs, bench, n=3).collect()}
        assert got[1][1] is True              # bench doc matches itself
        assert got[3] == (1, True)            # shares "quick brown fox"
        assert got[2][1] is False and got[2][0] == 0
        assert got[4][1] is False
        assert len(got) == 4                  # every input doc reported

    def test_n13_default_no_false_positives(self, spark):
        from osmium_tool_spark.operators.text import contamination_flags

        docs = self._docs(spark)
        bench = docs.filter("doc_id = 1")
        got = {r["doc_id"]: r["contaminated"]
               for r in contamination_flags(docs, bench).collect()}
        # all docs are shorter than 13 words -> nothing flags, including
        # the bench doc itself (9 words)
        assert not any(got.values())

    def test_broadcast_plan(self, spark):
        from osmium_tool_spark.operators.text import contamination_flags

        docs = self._docs(spark)
        out = contamination_flags(docs, docs.limit(1), n=3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # bench gram set broadcasts


class TestPairMetrics:
    def _pairs(self, spark, rows):
        return spark.createDataFrame(rows, "a long, b long")

    def test_perfect_partial_orientation(self, spark):
        from osmium_tool_spark.operators.dedup import pair_metrics

        truth = self._pairs(spark, [(1, 2), (3, 4), (5, 6)])
        # one reversed (orientation canonicalized), one wrong, one missing
        pred = self._pairs(spark, [(2, 1), (3, 4), (7, 8)])
        r = pair_metrics(pred, truth).collect()[0]
        assert (r.n_pred, r.n_truth, r.n_hit) == (3, 3, 2)
        assert abs(r.precision - 2 / 3) < 1e-12
        assert abs(r.recall - 2 / 3) < 1e-12
        assert abs(r.f1 - 2 * 2 / 6) < 1e-12
        perfect = pair_metrics(truth, truth).collect()[0]
        assert (perfect.precision, perfect.recall, perfect.f1) == (1.0, 1.0, 1.0)

    def test_empty_sides_total(self, spark):
        from osmium_tool_spark.operators.dedup import pair_metrics

        empty = self._pairs(spark, [])
        some = self._pairs(spark, [(1, 2)])
        r = pair_metrics(empty, some).collect()[0]
        assert (r.n_pred, r.precision, r.recall, r.f1) == (0, 0.0, 0.0, 0.0)
        r2 = pair_metrics(some, empty).collect()[0]
        assert (r2.n_truth, r2.recall, r2.f1) == (0, 0.0, 0.0)

    def test_duplicate_pairs_counted_once(self, spark):
        from osmium_tool_spark.operators.dedup import pair_metrics

        pred = self._pairs(spark, [(1, 2), (2, 1), (1, 2)])
        truth = self._pairs(spark, [(1, 2)])
        r = pair_metrics(pred, truth).collect()[0]
        assert (r.n_pred, r.n_hit, r.precision) == (1, 1, 1.0)

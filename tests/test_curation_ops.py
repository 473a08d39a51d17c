"""Round-4b curation operators: duplicate spans, mixture sampling,
leakage-safe splits, bigram corpus features."""

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.curation import leakage_safe_split
from osmium_tool_spark.operators.dedup import duplicate_spans
from osmium_tool_spark.operators.sample import mixture_sample, sample_hash
from osmium_tool_spark.operators.text import bigram_corpus_features


# ---------------------------------------------------------------------------
# duplicate_spans
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def span_docs(spark):
    shared = "alpha beta gamma delta"
    rows = [
        (1, f"one two {shared} three"),
        (2, f"x {shared} y z"),
        (3, "totally different words here entirely"),
        (4, "tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicate_spans_finds_shared_window(span_docs):
    out = duplicate_spans(span_docs, "doc_id", "text", width=4, min_docs=2).collect()
    # the only 4-token window shared across >= 2 docs is the boilerplate
    assert {r.id for r in out} == {1, 2}
    assert all(r.n_docs == 2 for r in out)
    # position is the 0-based token offset of the window
    by_id = {r.id: r.pos for r in out}
    assert by_id == {1: 2, 2: 1}
    # both occurrences carry the same content hash
    assert len({r.span_hash for r in out}) == 1


def test_duplicate_spans_within_doc_repeat_not_cross_doc(spark):
    # a doc repeating its own phrase is NOT a cross-document duplicate
    df = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "e f g h")], "doc_id long, text string"
    )
    assert duplicate_spans(df, width=4, min_docs=2).count() == 0


def test_duplicate_spans_short_docs_are_safe(span_docs):
    # width > every doc length -> no spans, no sequence(0, negative) blowup
    assert duplicate_spans(span_docs, width=50).count() == 0


def test_duplicate_spans_rejects_bad_width(span_docs):
    with pytest.raises(ValueError):
        duplicate_spans(span_docs, width=0)


# ---------------------------------------------------------------------------
# mixture_sample
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sourced(spark):
    rows = [(i, "web") for i in range(40)]
    rows += [(100 + i, "wiki") for i in range(10)]
    rows += [(200 + i, "books") for i in range(4)]
    rows += [(300 + i, "junk") for i in range(5)]
    return spark.createDataFrame(rows, "id long, source string")


def test_mixture_sample_quotas(sourced):
    out = mixture_sample(
        sourced,
        "source",
        {"web": 500_000, "wiki": 300_000, "books": 200_000},
        total=20,
        id_col="id",
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r.source, []).append(r.id)
    # quotas: web 20*0.5=10, wiki 20*0.3=6, books min(4, 20*0.2=4)=4
    assert {k: len(v) for k, v in by.items()} == {"web": 10, "wiki": 6, "books": 4}
    # keys absent from the share map are dropped
    assert "junk" not in by


def test_mixture_sample_deterministic_and_seed_sensitive(sourced):
    shares = {"web": 1_000_000}
    a1 = sorted(r.id for r in mixture_sample(sourced, "source", shares, 10, "id", seed=0).collect())
    a2 = sorted(r.id for r in mixture_sample(sourced, "source", shares, 10, "id", seed=0).collect())
    b = sorted(r.id for r in mixture_sample(sourced, "source", shares, 10, "id", seed=9).collect())
    assert a1 == a2
    assert a1 != b
    assert len(a1) == len(b) == 10


def test_mixture_sample_validates(sourced):
    with pytest.raises(ValueError):
        mixture_sample(sourced, "source", {"web": 2_000_000}, 10, "id")
    with pytest.raises(ValueError):
        mixture_sample(sourced, "source", {"web": 500_000}, -1, "id")


# ---------------------------------------------------------------------------
# leakage_safe_split
# ---------------------------------------------------------------------------


def test_leakage_safe_split_clusters_stay_together(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    # components: {1,2,3} (chain), {4,5}; 6..10 singletons
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "a long, b long")
    out = leakage_safe_split(docs, pairs, id_col="doc_id").collect()
    assert len(out) == 10
    split_of = {r.doc_id: r.split for r in out}
    cluster_of = {r.doc_id: r.cluster_id for r in out}
    assert cluster_of[1] == cluster_of[2] == cluster_of[3] == 1
    assert cluster_of[4] == cluster_of[5] == 4
    # the leakage guarantee: one split per cluster
    assert split_of[1] == split_of[2] == split_of[3]
    assert split_of[4] == split_of[5]
    assert set(split_of.values()) <= {"train", "val", "test"}


def test_leakage_safe_split_weights_route_buckets(spark):
    # with weights (100,0,0) everything is train
    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame([], "a long, b long")
    out = leakage_safe_split(docs, pairs, id_col="doc_id", weights=(100, 0, 0)).collect()
    assert {r.split for r in out} == {"train"}


def test_leakage_safe_split_validates_weights(spark):
    docs = spark.createDataFrame([(1,)], "doc_id long")
    pairs = spark.createDataFrame([], "a long, b long")
    with pytest.raises(ValueError):
        leakage_safe_split(docs, pairs, weights=(80, 10, 5))


# ---------------------------------------------------------------------------
# bigram_corpus_features
# ---------------------------------------------------------------------------


def test_bigram_features_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c"),      # bigrams: "a b", "b c"
            (2, "a b d"),      # bigrams: "a b", "b d"
            (3, "one"),        # no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in bigram_corpus_features(df).collect()}
    assert set(out) == {1, 2, 3}
    # "a b" occurs twice corpus-wide; "b c"/"b d" once each
    assert (out[1].n_bigrams, out[1].sum_count, out[1].n_unique) == (2, 3, 1)
    assert (out[2].n_bigrams, out[2].sum_count, out[2].n_unique) == (2, 3, 1)
    assert (out[3].n_bigrams, out[3].sum_count, out[3].n_unique) == (0, 0, 0)


def test_bigram_features_multiplicity(spark):
    # repeated bigram inside one doc counts with multiplicity
    df = spark.createDataFrame([(1, "x y x y")], "doc_id long, text string")
    r = bigram_corpus_features(df).collect()[0]
    # bigrams: "x y", "y x", "x y" -> "x y" count 2, "y x" count 1
    assert r.n_bigrams == 3
    assert r.sum_count == 2 + 2 + 1
    assert r.n_unique == 1


# ----------------------------------------------------------- pack_sequences


class TestPackSequences:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_fragments_tile_each_document_exactly(self, spark):
        from osmium_tool_spark.operators.curation import pack_sequences
        from pyspark.sql import functions as F

        docs = self._docs(
            spark, [(i, " ".join(f"t{j}" for j in range(7 + i * 13))) for i in range(40)]
        )
        out = pack_sequences(docs, capacity=64, n_packers=4)
        # per doc: fragments are contiguous, disjoint, and cover [0, n_tokens)
        per_doc = (
            out.groupBy("doc_id")
            .agg(
                F.sum("n_tok").alias("tot"),
                F.min("doc_begin").alias("first"),
                F.count("*").alias("n_frags"),
            )
            .collect()
        )
        expected = {i: 7 + i * 13 for i in range(40)}
        for r in per_doc:
            assert r["first"] == 0
            assert r["tot"] == expected[r["doc_id"]]

    def test_sequences_full_except_stream_tail(self, spark):
        from osmium_tool_spark.operators.curation import pack_sequences
        from pyspark.sql import functions as F

        docs = self._docs(
            spark, [(i, " ".join(f"t{j}" for j in range(5 + i % 37))) for i in range(60)]
        )
        cap = 32
        out = pack_sequences(docs, capacity=cap, n_packers=2)
        seqs = out.groupBy("packer", "seq").agg(F.sum("n_tok").alias("fill")).collect()
        last = {}
        for r in seqs:
            last[r["packer"]] = max(last.get(r["packer"], -1), r["seq"])
        for r in seqs:
            if r["seq"] < last[r["packer"]]:
                assert r["fill"] == cap  # concat-and-chunk wastes nothing
            else:
                assert 0 < r["fill"] <= cap

    def test_straddling_doc_splits_at_boundary(self, spark):
        from osmium_tool_spark.operators.curation import pack_sequences

        # one packer, one long doc: 2.5 sequences of capacity 10
        docs = self._docs(spark, [(1, " ".join(f"t{j}" for j in range(25)))])
        out = sorted(
            pack_sequences(docs, capacity=10, n_packers=1).collect(),
            key=lambda r: r["seq"],
        )
        assert [(r["seq"], r["doc_begin"], r["n_tok"]) for r in out] == [
            (0, 0, 10), (1, 10, 10), (2, 20, 5),
        ]

    def test_zero_token_docs_dropped_and_args_validated(self, spark):
        import pytest as _pytest

        from osmium_tool_spark.operators.curation import pack_sequences

        docs = self._docs(spark, [(1, "   "), (2, "a b")])
        out = pack_sequences(docs, capacity=8, n_packers=1).collect()
        assert [r["doc_id"] for r in out] == [2]
        with _pytest.raises(ValueError, match="capacity"):
            pack_sequences(docs, capacity=0)
        with _pytest.raises(ValueError, match="n_packers"):
            pack_sequences(docs, capacity=8, n_packers=0)

    def test_deterministic_across_repartitions(self, spark):
        from osmium_tool_spark.operators.curation import pack_sequences

        docs = self._docs(
            spark, [(i, " ".join(f"t{j}" for j in range(3 + i % 11))) for i in range(30)]
        )
        a = sorted(map(tuple, pack_sequences(docs, 16, n_packers=4).collect()))
        b = sorted(
            map(tuple, pack_sequences(docs.repartition(7), 16, n_packers=4).collect())
        )
        assert a == b


# ---------------------------------------------------------------------------
# shard_manifest
# ---------------------------------------------------------------------------


class TestShardManifest:
    S = 10_000_000

    def _imgs(self, spark, rows):
        # rows: (image_id, lon_fp, lat_fp, n_bytes)
        return spark.createDataFrame(
            rows, "image_id long, lon long, lat long, n_bytes long"
        )

    def test_offset_next_fit_hand_case(self, spark):
        from osmium_tool_spark.operators.curation import shard_manifest

        # 4 images in ONE cell (same zcell, ordered by id), 4 bytes each,
        # target 10: cum_before 0,4,8,12 -> shards 0,0,0,1; offsets 0,4,8,2
        rows = [(i, 5 * self.S, 5 * self.S, 4) for i in range(1, 5)]
        out = {
            r["image_id"]: r
            for r in shard_manifest(
                self._imgs(spark, rows), target_bytes=10, res=4, prefix_res=0
            ).collect()
        }
        assert [out[i]["shard_id"] for i in (1, 2, 3, 4)] == [0, 0, 0, 1]
        assert [out[i]["offset_bytes"] for i in (1, 2, 3, 4)] == [0, 4, 8, 2]
        # the straddler (id 3: starts at 8, 4 bytes) stays whole in shard 0
        assert out[3]["shard_id"] == 0

    def test_shards_never_cross_prefixes(self, spark):
        from osmium_tool_spark.operators.curation import shard_manifest

        rows = [
            (i, ((i * 2654435761) % 3600000000) - 1800000000,
             ((i * 2246822519) % 1800000000) - 900000000, 50 + i % 37)
            for i in range(1, 400)
        ]
        out = shard_manifest(
            self._imgs(spark, rows), target_bytes=256, res=6, prefix_res=2
        )
        bad = (
            out.groupBy("shard_id")
            .agg(F.count_distinct("prefix").alias("np"))
            .filter("np > 1")
            .count()
        )
        assert bad == 0
        # shard_id embeds the prefix
        assert out.filter(F.shiftright("shard_id", 32) != F.col("prefix")).count() == 0

    def test_zorder_locality_within_stream(self, spark):
        from osmium_tool_spark.operators.curation import shard_manifest

        # within a prefix stream, offsets are laid in zcell order: a
        # later zcell never has a smaller cumulative start
        rows = [
            (i, ((i * 97) % 360) * self.S - 180 * self.S,
             ((i * 53) % 180) * self.S - 90 * self.S, 10)
            for i in range(1, 200)
        ]
        out = shard_manifest(
            self._imgs(spark, rows), target_bytes=64, res=5, prefix_res=1
        ).collect()
        by_prefix = {}
        for r in sorted(out, key=lambda r: (r["prefix"], r["zcell"], r["image_id"])):
            start = (r["shard_id"] & 0xFFFFFFFF) * 64 + r["offset_bytes"]
            assert by_prefix.get(r["prefix"], -1) <= start
            by_prefix[r["prefix"]] = start

    def test_repartition_deterministic(self, spark):
        from osmium_tool_spark.operators.curation import shard_manifest

        rows = [
            (i, ((i * 31) % 360) * self.S - 180 * self.S,
             ((i * 17) % 180) * self.S - 90 * self.S, 20 + i % 11)
            for i in range(1, 300)
        ]
        df = self._imgs(spark, rows)
        a = sorted(map(tuple, shard_manifest(df, 128, res=5, prefix_res=1).collect()))
        b = sorted(map(tuple, shard_manifest(
            df.repartition(13), 128, res=5, prefix_res=1).collect()))
        assert a == b

    def test_guards(self, spark):
        from osmium_tool_spark.operators.curation import shard_manifest

        df = self._imgs(spark, [(1, 0, 0, 5)])
        with pytest.raises(ValueError):
            shard_manifest(df, 0)
        with pytest.raises(ValueError):
            shard_manifest(df, 10, res=4, prefix_res=5)
        # zero/negative-byte rows drop
        df2 = self._imgs(spark, [(1, 0, 0, 5), (2, 0, 0, 0)])
        assert shard_manifest(df2, 10).count() == 1


class TestEpochShuffle:
    def _docs(self, spark, n=500):
        return spark.createDataFrame(
            [(i, f"doc-{i}") for i in range(n)], "doc_id long, text string"
        )

    def test_is_a_permutation(self, spark):
        from osmium_tool_spark.operators.curation import epoch_shuffle

        df = self._docs(spark)
        out = epoch_shuffle(df, "doc_id", epoch=0, num_shards=8).collect()
        assert len(out) == 500
        assert {r.doc_id for r in out} == set(range(500))
        # (shard, pos) is a dense per-shard ordinal
        by_shard = {}
        for r in out:
            by_shard.setdefault(r.shard, []).append(r.pos)
        assert set(by_shard) <= set(range(8))
        for poss in by_shard.values():
            assert sorted(poss) == list(range(len(poss)))

    def test_deterministic_and_partitioning_invariant(self, spark):
        from osmium_tool_spark.operators.curation import epoch_shuffle

        df = self._docs(spark)
        a = sorted(map(tuple, epoch_shuffle(df, "doc_id", 3, 8).collect()))
        b = sorted(
            map(tuple, epoch_shuffle(df.repartition(13), "doc_id", 3, 8).collect())
        )
        assert a == b

    def test_epochs_decorrelated(self, spark):
        from osmium_tool_spark.operators.curation import epoch_shuffle

        df = self._docs(spark)
        e0 = {r.doc_id: (r.shard, r.pos) for r in epoch_shuffle(df, "doc_id", 0, 8).collect()}
        e1 = {r.doc_id: (r.shard, r.pos) for r in epoch_shuffle(df, "doc_id", 1, 8).collect()}
        moved = sum(1 for k in e0 if e0[k] != e1[k])
        assert moved > 400  # nearly everything re-shuffles

    def test_sql_twin_bit_identical(self, spark):
        import duckdb

        from osmium_tool_spark.operators.curation import (
            epoch_shuffle,
            epoch_shuffle_sql,
        )

        df = self._docs(spark, 300)
        got = sorted(
            map(tuple, epoch_shuffle(df, "doc_id", 2, 4).select(
                "doc_id", "shard", "pos").collect())
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO t VALUES (?, ?)", [(i, f"doc-{i}") for i in range(300)]
        )
        sql = epoch_shuffle_sql(
            "SELECT doc_id FROM t", "doc_id", 2, 4, ["doc_id"]
        )
        duck = sorted(con.execute(sql).fetchall())
        assert duck == got

    def test_validation(self, spark):
        from osmium_tool_spark.operators.curation import epoch_shuffle

        df = self._docs(spark, 5)
        with pytest.raises(ValueError):
            epoch_shuffle(df, "doc_id", 0, 0)
        with pytest.raises(ValueError):
            epoch_shuffle(df, "doc_id", -1, 4)


class TestTrainingBatches:
    def test_fixed_shape_batches(self, spark):
        from osmium_tool_spark.operators.curation import training_batches

        df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
        from osmium_tool_spark.operators.curation import epoch_shuffle

        out = training_batches(df, "doc_id", epoch=0, num_shards=4, batch_size=16).collect()
        sizes = {}
        for r in out:
            sizes.setdefault((r.shard, r.batch), []).append(r.pos_in_batch)
        assert all(sorted(v) == list(range(16)) for v in sizes.values())
        # ragged tails dropped: kept = sum over shards of 16*floor(n_s/16)
        full = epoch_shuffle(df, "doc_id", 0, 4).collect()
        per_shard = {}
        for r in full:
            per_shard[r.shard] = per_shard.get(r.shard, 0) + 1
        want = sum(16 * (n // 16) for n in per_shard.values())
        assert len(out) == want
        assert len(out) < 500

    def test_sql_twin(self, spark):
        import duckdb

        from osmium_tool_spark.operators.curation import (
            training_batches,
            training_batches_sql,
        )

        df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
        got = sorted(
            map(tuple, training_batches(df, "doc_id", 5, 4, 8).select(
                "doc_id", "shard", "pos", "batch", "pos_in_batch").collect())
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t (doc_id BIGINT)")
        con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in range(300)])
        duck = sorted(con.execute(training_batches_sql(
            "SELECT doc_id FROM t", "doc_id", 5, 4, 8, ["doc_id"]
        )).fetchall())
        assert duck == got

    def test_validation(self, spark):
        from osmium_tool_spark.operators.curation import training_batches

        df = spark.createDataFrame([(1,)], "doc_id long")
        import pytest as _pt
        with _pt.raises(ValueError):
            training_batches(df, "doc_id", 0, 4, 0)



class TestDomainCap:
    def test_url_host_and_registrable_domain(self, spark):
        from osmium_tool_spark.operators.curation import registrable_domain, url_host

        rows = [
            ("https://WWW.Example.COM/path?q=1", "www.example.com", "example.com"),
            ("http://user:pw@sub.shop.co.uk:8080/x", "sub.shop.co.uk", "shop.co.uk"),
            ("https://a.b.c.example.org#frag", "a.b.c.example.org", "example.org"),
            ("ftp://files.example.com.au/f", "files.example.com.au", "example.com.au"),
            ("https://localhost/x", "localhost", "localhost"),
            ("https://news.bbc.co.uk/story", "news.bbc.co.uk", "bbc.co.uk"),
        ]
        df = spark.createDataFrame([(u,) for u, _, _ in rows], "url string")
        got = df.select(
            url_host(F.col("url")).alias("h"),
            registrable_domain(url_host(F.col("url"))).alias("d"),
        ).collect()
        for (u, h, d), r in zip(rows, got):
            assert r.h == h, (u, r.h)
            assert r.d == d, (u, r.d)

    def test_domain_cap_limits_and_determinism(self, spark):
        from osmium_tool_spark.operators.curation import domain_cap

        df = spark.createDataFrame(
            [
                (i, f"https://{'spam.example.com' if i % 3 else 'rare.org'}/p/{i}")
                for i in range(300)
            ],
            "doc_id long, url string",
        )
        out = domain_cap(df, "url", cap=5).collect()
        by_dom = {}
        for r in out:
            by_dom.setdefault(r.domain, []).append(r.doc_id)
        assert len(by_dom["example.com"]) == 5
        assert len(by_dom["rare.org"]) == 5  # 100 rare rows -> capped too
        again = domain_cap(df, "url", cap=5).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, again))


class TestMixupPairs:
    def _docs(self, spark, n=40):
        return spark.range(n).select(F.col("id").alias("doc_id"))

    def test_valid_pairing(self, spark):
        from osmium_tool_spark.operators.curation import mixup_pairs

        rows = mixup_pairs(self._docs(spark), "doc_id", epoch=1,
                           num_shards=4).collect()
        assert len(rows) == 40
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r.shard, []).append(r)
        for shard, rs in by_shard.items():
            ids = {r.id for r in rs}
            partners = [r.partner_id for r in rs]
            # cyclic within shard: partners form a permutation of ids
            assert set(partners) == ids
            if len(rs) > 1:
                assert all(r.partner_id != r.id for r in rs)
            assert all(0 <= r.lam_permille <= 1000 for r in rs)

    def test_deterministic_and_epoch_varies(self, spark):
        from osmium_tool_spark.operators.curation import mixup_pairs

        docs = self._docs(spark)
        a = sorted(map(tuple, mixup_pairs(docs, "doc_id", 3, 4).collect()))
        b = sorted(map(tuple, mixup_pairs(docs, "doc_id", 3, 4).collect()))
        c = sorted(map(tuple, mixup_pairs(docs, "doc_id", 4, 4).collect()))
        assert a == b and a != c

    def test_singleton_shard_self_pairs(self, spark):
        from osmium_tool_spark.operators.curation import mixup_pairs

        one = self._docs(spark, 1)
        r = mixup_pairs(one, "doc_id", 0, 1).collect()[0]
        assert r.partner_id == r.id

"""Scale-safety contracts: distributed zipWithIndex parity and the
unsafe-default guards added after the round-1 plan audit.

- functions/zipindex.dense_index must be bit-identical to the global
  window row_number it replaces (renumber/tags_count/validate_order all
  ride on it);
- ngram_jaccard_pairs caps shingle document frequency;
- embedding_near_dup has no all-pairs cross join.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from osmium_tool_spark.functions.zipindex import dense_index
from osmium_tool_spark.operators.dedup import MAX_DF, ngram_jaccard_pairs
from osmium_tool_spark.operators.similarity import embedding_near_dup


class TestDenseIndex:
    def test_matches_global_window_per_group(self, spark):
        rows = [(i % 3, (i * 37) % 101, i) for i in range(500)]
        df = spark.createDataFrame(rows, "grp int, key int, payload int")
        got = {
            (r["grp"], r["key"]): r["new_id"]
            for r in dense_index(
                df, [F.col("key"), F.col("payload")], part_col="grp"
            ).collect()
        }
        w = Window.partitionBy("grp").orderBy("key", "payload")
        want = {
            (r["grp"], r["key"]): r["rn"]
            for r in df.withColumn("rn", F.row_number().over(w)).collect()
        }
        assert got == want

    def test_ungrouped_with_desc_order(self, spark):
        df = spark.createDataFrame([(i, (i * 13) % 50) for i in range(200)], "id int, v int")
        got = {
            r["id"]: r["rank"]
            for r in dense_index(
                df, [F.desc("v"), F.asc("id")], index_name="rank"
            ).collect()
        }
        w = Window.orderBy(F.desc("v"), F.asc("id"))
        want = {r["id"]: r["rn"] for r in df.withColumn("rn", F.row_number().over(w)).collect()}
        assert got == want

    def test_empty_input(self, spark):
        df = spark.createDataFrame([], "grp int, key int")
        assert dense_index(df, [F.col("key")], part_col="grp").count() == 0


class TestUnsafeDefaultGuards:
    def test_ngram_max_df_default_caps_frequent_shingles(self, spark):
        # docs all sharing one boilerplate shingle: once more docs than the
        # cap share it, the shared shingle is dropped and no pairs survive
        def docs(n):
            return spark.createDataFrame(
                [(i, "common shared boilerplate " + f"unique{i} x{i} y{i}") for i in range(n)],
                "doc_id long, text string",
            )

        capped = ngram_jaccard_pairs(docs(MAX_DF + 1), "doc_id", "text", n=3, threshold=0.01)
        assert capped.count() == 0
        below_cap = ngram_jaccard_pairs(docs(10), "doc_id", "text", n=3, threshold=0.01)
        assert below_cap.count() == 45  # all pairs share the boilerplate shingle

    def test_ngram_default_is_capped(self):
        assert MAX_DF == 1000

    def test_embedding_near_dup_rejects_silent_cross_join(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.1])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception):
            embedding_near_dup(emb, threshold=0.5, block_col=None)

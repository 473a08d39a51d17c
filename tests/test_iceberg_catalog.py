"""sources/iceberg_catalog.IcebergTable — the real-Iceberg binding of
the SnapshotTable API (r4 verdict item 7).

The integration class skip-marks when no Iceberg catalog is registered
(this container ships no iceberg-spark-runtime jar — the lz4/zstd/PIL
pattern); the always-run tests pin the availability probe and the
loud, actionable error contract so the swap-in point cannot rot.
"""

import re

import pytest

from osmium_tool_spark.sources.iceberg_catalog import (
    IcebergTable,
    iceberg_available,
)


def _has_iceberg(spark) -> bool:
    return iceberg_available(spark, "local")


class TestContractAlwaysRun:
    def test_unavailable_probe_is_false_not_raise(self, spark):
        assert iceberg_available(spark, "no_such_catalog") is False

    def test_loud_error_names_the_jar(self, spark):
        if _has_iceberg(spark):
            pytest.skip("Iceberg present: loud error N/A")
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            IcebergTable(spark, "local.db.t")

    def test_identifier_validation(self, spark):
        with pytest.raises(ValueError, match="catalog.namespace.table"):
            IcebergTable(spark, "just_a_table")


class _SqlRecorder:
    """Stands in for the session of an IcebergTable built without the
    jar: records the SQL it is sent, keeps the real temp-view catalog."""

    def __init__(self, spark):
        self.catalog = spark.catalog
        self.statements = []

    def sql(self, text):
        self.statements.append(text)


def test_merge_into_sql_and_source_views(spark):
    t = IcebergTable.__new__(IcebergTable)
    t.spark = rec = _SqlRecorder(spark)
    t.identifier = "local.db.t"
    src = spark.createDataFrame([(1, 2)], "id long, v long")
    t.merge_into(src, on="id", when_matched="delete", insert_not_matched=False)
    t.merge_into(src, on=["id", "v"])
    views = [re.search(r" USING (\S+) s ON ", m).group(1) for m in rec.statements]
    assert len(views) == 2 and views[0] != views[1]
    assert rec.statements == [
        f"MERGE INTO local.db.t t USING {views[0]} s ON t.id = s.id "
        "WHEN MATCHED THEN DELETE",
        f"MERGE INTO local.db.t t USING {views[1]} s ON t.id = s.id AND "
        "t.v = s.v WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ]
    assert not any(spark.catalog.tableExists(v) for v in views)
    with pytest.raises(ValueError, match="when_matched"):
        t.merge_into(src, on="id", when_matched="upsert")


class TestIntegration:
    """Runs only with a real Iceberg catalog registered as `local`."""

    @pytest.fixture(autouse=True)
    def _skip_without_jar(self, spark):
        if not _has_iceberg(spark):
            pytest.skip("no Iceberg catalog registered (jar absent)")

    def test_append_time_travel_rollback_expire(self, spark):
        spark.sql("CREATE NAMESPACE IF NOT EXISTS local.osmspark_it")
        t = IcebergTable(spark, "local.osmspark_it.snap_roundtrip")
        df1 = spark.range(3).selectExpr("id", "id * 10 AS v")
        t.create_or_replace(df1)
        s1 = t.current_id()
        t.append(spark.range(3, 5).selectExpr("id", "id * 10 AS v"))
        s2 = t.current_id()
        assert s2 != s1
        assert t.read().count() == 5
        assert t.read(snapshot_id=s1).count() == 3  # time travel
        t.rollback(s1)
        assert t.read().count() == 3
        assert len(t.snapshot_ids()) >= 2  # history append-only
        t.expire(keep_last=1)

    def test_merge_into(self, spark):
        spark.sql("CREATE NAMESPACE IF NOT EXISTS local.osmspark_it")
        t = IcebergTable(spark, "local.osmspark_it.snap_merge")
        t.create_or_replace(
            spark.range(4).selectExpr("id", "id AS v")
        )
        src = spark.createDataFrame(
            [(2, 99), (10, 100)], "id long, v long"
        )
        t.merge_into(src, on=["id"])
        got = {r.id: r.v for r in t.read().collect()}
        assert got[2] == 99 and got[10] == 100 and len(got) == 5

"""Iceberg writer/reader call contract (BASELINE.json input_hint says
the production input is an Iceberg table).

The sandbox has no iceberg-spark-runtime jar, so the Iceberg branch of
TableStore cannot execute here; these tests pin the exact calls it
makes against mocks so the branch cannot rot, and a live smoke test
runs automatically if a runtime jar ever appears on the classpath."""

from unittest.mock import MagicMock

import pytest

from information_retrieval_spark.io import TableStore


@pytest.fixture
def store(tmp_path):
    spark = MagicMock(name="spark")
    return TableStore(spark, str(tmp_path), use_iceberg=True,
                      catalog="local", namespace="irs"), spark


def test_iceberg_write_contract(store, tmp_path):
    ts, spark = store
    df = MagicMock(name="df")
    ts.write(df, "postings", options={"parquet.block.size": "1048576"})
    df.write.mode.assert_called_once_with("overwrite")
    chained = df.write.mode.return_value.option.return_value
    chained.format.assert_called_once_with("iceberg")
    chained.format.return_value.saveAsTable.assert_called_once_with(
        "local.irs.postings")


def test_iceberg_write_append_mode(store):
    ts, spark = store
    df = MagicMock(name="df")
    ts.write(df, "doc_len", mode="append")
    df.write.mode.assert_called_once_with("append")
    df.write.mode.return_value.format.return_value.saveAsTable \
        .assert_called_once_with("local.irs.doc_len")


def test_iceberg_read_contract(store):
    ts, spark = store
    ts.read("dictionary")
    spark.read.format.assert_called_once_with("iceberg")
    spark.read.format.return_value.table.assert_called_once_with(
        "local.irs.dictionary")


def test_iceberg_exists_and_drop_contract(store):
    ts, spark = store
    spark.catalog.tableExists.return_value = True
    assert ts.exists("stats") is True
    spark.catalog.tableExists.assert_called_once_with("local.irs.stats")
    ts.drop("stats")
    spark.sql.assert_called_once_with("DROP TABLE IF EXISTS local.irs.stats")


def test_iceberg_refresh_contract(store):
    # a QueryEngine refreshes its cached tables by NAME on Iceberg
    ts, spark = store
    ts.refresh("dictionary")
    spark.catalog.refreshTable.assert_called_once_with("local.irs.dictionary")
    spark.catalog.refreshByPath.assert_not_called()


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_iceberg_live_roundtrip_if_runtime_present(spark, tmp_path):
    """Executes the REAL Iceberg branch when a runtime jar is on the
    classpath (skipped in the jar-less sandbox)."""
    if not _iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime not on the classpath")
    spark.conf.set("spark.sql.catalog.local",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.local.type", "hadoop")
    spark.conf.set("spark.sql.catalog.local.warehouse", str(tmp_path / "wh"))
    ts = TableStore(spark, str(tmp_path), use_iceberg=True)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    ts.write(df, "t1")
    assert ts.exists("t1")
    assert ts.read("t1").count() == 1
    ts.drop("t1")
    assert not ts.exists("t1")

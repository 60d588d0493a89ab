"""Sink tests: partitioned writes and dynamic partition overwrite (the
idempotent at-scale sink pattern — rewriting one day's partition never
touches the others)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table, write_parquet

from .conftest import SF_SMALL


def test_partitioned_write_layout(spark, tmp_path):
    out = str(tmp_path / "events_by_type")
    events = load_table(spark, SF_SMALL, "events")
    write_parquet(events, out, partition_by=["event_type"])
    dirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    assert dirs == {
        f"event_type={t}"
        for t in ("click", "view", "purchase", "signup", "error")
    }
    # partition pruning: reading one partition scans only that directory
    one = spark.read.parquet(out).filter(F.col("event_type") == "click")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = one._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_dynamic_partition_overwrite_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "dyn")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        events = load_table(spark, SF_SMALL, "events")
        write_parquet(events, out, partition_by=["event_type"])
        total = spark.read.parquet(out).count()

        # rewrite ONLY the 'click' partition (e.g. a late-data restatement)
        clicks = events.filter(F.col("event_type") == "click")
        write_parquet(clicks, out, mode="overwrite", partition_by=["event_type"])

        after = spark.read.parquet(out)
        assert after.count() == total, "other partitions must be untouched"
        assert after.filter(F.col("event_type") == "click").count() == clicks.count()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_compact_parquet_preserves_appended_data(spark, tmp_path):
    """Compaction: many small append files become few right-sized ones;
    row set is byte-identical before/after."""
    from pyspark.sql import functions as F

    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.maintenance import (
        compact_parquet,
    )
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import load_table
    from .conftest import SF_SMALL

    out = str(tmp_path / "sink")
    orders = load_table(spark, SF_SMALL, "orders")
    # simulate 12 micro-batch appends
    for i in range(12):
        orders.filter(F.col("o_orderkey") % 12 == i).coalesce(1).write.mode(
            "append"
        ).parquet(out)

    before = spark.read.parquet(out)
    n_before = before.count()
    checksum_before = before.agg(
        F.sum(F.crc32(F.concat_ws("|", "o_orderkey", "o_orderstatus")))
    ).collect()[0][0]

    stats = compact_parquet(spark, out, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_before"] >= 12
    assert stats["files_after"] < stats["files_before"]

    after = spark.read.parquet(out)
    assert after.count() == n_before
    checksum_after = after.agg(
        F.sum(F.crc32(F.concat_ws("|", "o_orderkey", "o_orderstatus")))
    ).collect()[0][0]
    assert checksum_after == checksum_before


def test_replace_parquet_failed_write_keeps_target(spark, tmp_path):
    """A frame that fails at execution raises out of replace_parquet and
    leaves the existing target and its directory untouched."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
        replace_parquet,
    )

    target = str(tmp_path / "t")
    replace_parquet(spark.range(5), target)
    replace_parquet(spark.range(3).withColumn("id", F.col("id") + 10), target)
    before = sorted(r.id for r in spark.read.parquet(target).collect())
    assert before == [10, 11, 12]

    # reads the target it replaces, as upsert_parquet does
    failing = spark.read.parquet(target).withColumn(
        "id", F.when(F.col("id") == 11, F.raise_error(F.lit("boom"))).otherwise(F.col("id"))
    )
    with pytest.raises((Py4JJavaError, PySparkException)):
        replace_parquet(failing, target)
    assert sorted(r.id for r in spark.read.parquet(target).collect()) == before
    assert os.listdir(tmp_path) == ["t"]


def test_compact_parquet_rejects_partitioned_dir(spark, tmp_path):
    """A flat rewrite would drop the key=value layout."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.maintenance import (
        compact_parquet,
    )

    hive = str(tmp_path / "hive")
    write_parquet(load_table(spark, SF_SMALL, "events"), hive, partition_by=["event_type"])
    with pytest.raises(ValueError, match="partition subdirectories"):
        compact_parquet(spark, hive)


def test_compact_parquet_rejects_empty_dir(spark, tmp_path):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.operators.maintenance import (
        compact_parquet,
    )

    with pytest.raises(ValueError, match="no data files"):
        compact_parquet(spark, str(tmp_path))


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Live JDBC sink/source round-trip against the embedded Derby
    database that ships in Spark's jars — the closest in-container stand-in
    for the reference's Redshift sink: preactions DDL runs once over a
    direct connection (Glue semantics), then the DataFrame appends over
    JDBC, then a delete-and-reload preaction proves idempotent re-runs."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    df = spark.createDataFrame(
        [(1, "AAA", 10.5), (2, "BBB", 20.25), (3, "CCC", 30.0)],
        "id int, name string, amount double",
    )
    ddl = "CREATE TABLE app.sales (id INT, name VARCHAR(32), amount DOUBLE)"
    write_jdbc(df, url, "app.sales", mode="append", preactions=[ddl])
    back = read_jdbc(spark, url, "app.sales")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )

    # Re-run with the reference's truncate-and-reload preaction shape:
    # count must stay 3 (idempotent), not double to 6.
    write_jdbc(df, url, "app.sales", mode="append", preactions=["DELETE FROM app.sales"])
    assert read_jdbc(spark, url, "app.sales").count() == 3


def test_jdbc_partitioned_parallel_read(spark, tmp_path):
    """Partition-bounded JDBC read: numPartitions range predicates must
    split the scan (the anti-single-connection pattern for large tables)
    and return exactly the full row set."""
    from aws_glue_pyspark_incrementality_and_parallelism_spark.sources.io import (
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/derbydb2;create=true"
    df = spark.range(0, 100).selectExpr("CAST(id AS INT) AS id", "id * 2.0 AS val")
    write_jdbc(
        df, url, "app.wide", mode="append",
        preactions=["CREATE TABLE app.wide (id INT, val DOUBLE)"],
    )
    back = read_jdbc(
        spark, url, "app.wide",
        partition_column="id", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 100
    assert back.agg(F.sum("val")).collect()[0][0] == sum(i * 2.0 for i in range(100))

"""End-to-end ETL pipeline — the reference's ``JobBase.execute()``
(glue_rds_to_redshift.py:19-55) rebuilt Spark-first and bug-fixed.

Stages (reference line refs in parens):

1. incremental scan of the fact table via the HWM bookmark store
   (:28-40, service bookmarks → explicit state, SURVEY §8 B8/B10 fixed)
2. rename → 3-way join → projection (:44-47, typo'd keys B4/B5 fixed)
3. cache the joined frame once for both reports (:48)
4. two grouped-sum reports submitted concurrently to FAIR pools
   (:52-55, missing-method/unawaited-futures B2/B3 fixed)
5. partitioned parquet sinks (Redshift JDBC writer ≈ any sink fn)
6. bookmark commit AFTER both sinks succeed (B10 fixed)

At scale: the joined frame is cached MEMORY_AND_DISK (it feeds two
actions); sinks write partitioned by date instead of repartition(1);
the HWM commit is the transaction boundary, so a crash re-runs one
idempotent slice.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass
from typing import Any

log = logging.getLogger("engine.pipeline")

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import parallel, session
from .operators import reports
from .sources.incremental import BookmarkStore, incremental_read
from .sources.io import load_table, write_parquet


@dataclass
class PipelineResult:
    committed_hwm: Any
    report_rows: dict[str, int]
    output_paths: dict[str, str]
    metrics: dict[str, Any] | None = None


def run_etl(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    bookmark_path: str | None = None,
    single_file_outputs: bool = False,
) -> PipelineResult:
    """One incremental run of the two-report ETL. Re-runnable: each run
    processes only fact rows above the committed bookmark and overwrites
    its own output slice (idempotent sink + commit-after-write)."""
    store = BookmarkStore(bookmark_path or os.path.join(output_dir, "_bookmarks.json"))

    fact = load_table(spark, sf_dir, "lineitem")
    batch = incremental_read(fact, "l_orderkey", store, "lineitem")
    hwm = batch.pending_hwm()
    log.info("incremental read: prior hwm=%s pending hwm=%s", store.get("lineitem"), hwm)
    if hwm is None:
        log.info("empty batch; skipping reports and commit")
        return PipelineResult(committed_hwm=store.get("lineitem"), report_rows={}, output_paths={})

    lineitem = (
        batch.df.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_shipdate")
        .withColumnRenamed("l_orderkey", "trn_orderkey")
        .withColumnRenamed("l_suppkey", "trn_suppkey")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    supplier = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")

    from pyspark.sql import Observation

    # Data-quality counters ride the first action over the joined frame —
    # no extra pass, collected from the executors' task metrics (the
    # production guardrail: a sudden null-rate or row-count shift fails
    # fast instead of poisoning downstream reports).
    obs = Observation("joined_quality")
    joined = (
        lineitem.join(orders, lineitem.trn_orderkey == orders.o_orderkey, "inner")
        .join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(F.broadcast(supplier), lineitem.trn_suppkey == supplier.s_suppkey, "inner")
        .select(
            "trn_orderkey",
            "l_extendedprice",
            "l_shipdate",
            "o_orderdate",
            "c_custkey",
            "c_name",
            "s_suppkey",
            "s_name",
        )
    )
    joined = joined.observe(
        obs,
        F.count(F.lit(1)).alias("joined_rows"),
        F.sum(F.when(F.col("l_extendedprice").isNull(), 1).otherwise(0)).alias("null_prices"),
        F.min("o_orderdate").alias("min_orderdate"),
        F.max("o_orderdate").alias("max_orderdate"),
    )
    # One materialization feeding both report actions (reference :48).
    joined = joined.persist(StorageLevel.MEMORY_AND_DISK)

    paths = {
        "sales_by_customer": os.path.join(output_dir, "sales_by_customer"),
        "sales_by_supplier": os.path.join(output_dir, "sales_by_supplier"),
    }

    def _customer_report() -> int:
        write_parquet(
            reports.by_customer(joined), paths["sales_by_customer"], single_file=single_file_outputs
        )
        return spark.read.parquet(paths["sales_by_customer"]).count()

    def _supplier_report() -> int:
        write_parquet(
            reports.by_supplier(joined), paths["sales_by_supplier"], single_file=single_file_outputs
        )
        return spark.read.parquet(paths["sales_by_supplier"]).count()

    log.info("running 2 reports concurrently (FAIR pools %s/%s)",
             session.POOL_USERS_REPORT, session.POOL_SUBSCRIPTIONS_REPORT)
    try:
        results = parallel.run_concurrent(
            spark,
            [
                parallel.ReportJob("sales_by_customer", _customer_report, session.POOL_USERS_REPORT),
                parallel.ReportJob(
                    "sales_by_supplier", _supplier_report, session.POOL_SUBSCRIPTIONS_REPORT
                ),
            ],
        )
    finally:
        joined.unpersist()

    metrics = dict(obs.get)
    if metrics.get("joined_rows", 0) and metrics.get("null_prices", 0):
        raise ValueError(f"data-quality gate: null prices in joined frame: {metrics}")
    log.info("observed metrics: %s", metrics)

    committed = batch.commit()  # only reached when both sinks succeeded
    log.info("sinks committed; bookmark advanced to %s", committed)
    return PipelineResult(
        committed_hwm=committed, report_rows=results, output_paths=paths, metrics=metrics
    )

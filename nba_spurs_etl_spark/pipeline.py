"""End-to-end pipeline driver: bronze -> silver -> gold -> quality.

Replaces the reference's Airflow DAG + dbt run (SURVEY §3): the three
task groups become three function calls; Spark's lazy plan + action
boundaries replace the task DAG; model dependency order is plain call
order inside ``plans.gold.build_all``.

Typical use::

    spark = get_spark()
    gold = run_pipeline(spark, work_dir="/tmp/nba_wh")

At scale, point ``work_dir`` at an object store (s3a://...) — every
stage is distributed reads/writes; nothing passes through the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import quality
from .plans import gold
from .sources import bronze, silver


def run_pipeline(
    spark: SparkSession,
    work_dir: str,
    materialize_gold: bool = False,
    run_quality: bool = True,
) -> dict[str, DataFrame]:
    """bronze JSON -> silver (all-string, PK-checked) -> 6 gold models.

    Returns the gold DataFrames; with ``materialize_gold`` they are
    also written as Parquet under <work_dir>/gold (the dbt
    CREATE TABLE AS materialization, S15) and the quality checks run
    over the written Parquet instead of the lazy frames."""
    bronze_dir = os.path.join(work_dir, "bronze")
    bronze.write_all(spark, bronze_dir)

    silver_tables = silver.load_all(spark, bronze_dir)
    silver.save_warehouse(silver_tables, os.path.join(work_dir, "silver"))

    # gold reads the persisted silver (column-pruned parquet scans),
    # not the in-memory lineage — mirrors the reference's layer boundary
    persisted = {
        name: spark.read.parquet(os.path.join(work_dir, "silver", name))
        for name in silver_tables
    }
    gold_tables = gold.build_all(persisted)

    checked = gold_tables
    if materialize_gold:
        gold_dir = os.path.join(work_dir, "gold")
        for name, df in gold_tables.items():
            df.write.mode("overwrite").parquet(os.path.join(gold_dir, name))
        # check what was written: scanning the gold Parquet is far
        # cheaper than re-running every gold model for the checks
        checked = {
            name: spark.read.parquet(os.path.join(gold_dir, name))
            for name in gold_tables
        }

    if run_quality:
        quality.run_checks(checked)
    return gold_tables

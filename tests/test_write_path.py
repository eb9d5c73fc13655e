"""Fast-tier pins for the partitioned-write commit
(``operators.maintenance.overwrite_partitions``) and for the per-writer
dynamic-overwrite option of the path writes. Every case runs with the
session's ``partitionOverwriteMode`` at ``static``, the mode in which a
lost or leaked conf switch would truncate a table."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture()
def static_mode(spark):
    prev = spark.conf.get(MODE, None)
    spark.conf.set(MODE, "static")
    spark.sql("CREATE DATABASE IF NOT EXISTS write_path_db")
    spark.catalog.setCurrentDatabase("write_path_db")
    yield
    spark.catalog.setCurrentDatabase("default")
    spark.sql("DROP DATABASE write_path_db CASCADE")
    if prev is None:
        spark.conf.unset(MODE)
    else:
        spark.conf.set(MODE, prev)


def _files(root: str) -> dict[str, float]:
    return {p: os.path.getmtime(p)
            for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)}


def _three_partition_table(spark, name: str) -> str:
    from spaceparts_data_pipeline_spark.operators.maintenance import (
        overwrite_via_staging, resolve_physical, table_location,
    )

    base = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"),
        F.pmod("id", F.lit(3)).cast("int").alias("p"))
    overwrite_via_staging(spark, name, base, partition_by="p")
    return table_location(spark, resolve_physical(spark, name))


def test_touched_partition_merge_keeps_other_partitions(spark, static_mode):
    from spaceparts_data_pipeline_spark.operators.merge import merge_into_table

    loc = _three_partition_table(spark, "wp_merge")
    before = _files(loc)
    delta = spark.createDataFrame([(4, 444.0, 1), (99, 9.0, 1)], "k long, v double, p int")
    merge_into_table(spark, "wp_merge", delta, ["k"], partition_col="p")

    after = _files(loc)
    for p in ("p=0", "p=2"):
        untouched = {f: m for f, m in before.items() if f"/{p}/" in f}
        assert untouched and untouched == {f: m for f, m in after.items() if f"/{p}/" in f}
    assert spark.conf.get(MODE) == "static"
    t = spark.table("wp_merge")
    assert t.count() == 31
    assert t.filter("k = 4").first()["v"] == 444.0
    assert t.groupBy("p").count().orderBy("p").collect() == [(0, 10), (1, 11), (2, 10)]


def test_failed_commit_restores_static_mode(spark, static_mode):
    from spaceparts_data_pipeline_spark.operators.maintenance import (
        overwrite_partitions, resolve_physical,
    )

    _three_partition_table(spark, "wp_fail")
    # an array cannot be stored into the DOUBLE column: the insert itself
    # raises, after the checkpoint, inside the conf switch
    bad = spark.createDataFrame([(1, [1.0], 1)], "k long, v array<double>, p int")
    with pytest.raises(AnalysisException):
        overwrite_partitions(spark, resolve_physical(spark, "wp_fail"), bad, "p")
    assert spark.conf.get(MODE) == "static"
    assert spark.table("wp_fail").count() == 30


def test_path_write_option_keeps_other_run_partition(spark, static_mode, tmp_path):
    root = str(tmp_path / "corpus")
    for run_id in ("r1", "r2"):
        (spark.range(5).withColumn("run_id", F.lit(run_id)).write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("run_id").parquet(root))
    got = spark.read.parquet(root).groupBy("run_id").count().orderBy("run_id").collect()
    assert got == [("r1", 5), ("r2", 5)]
    assert spark.conf.get(MODE) == "static"

"""Partition-spec evolution (sources/partitions.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.sources.formats import write_partitioned
from iceberg_evolve_spark.sources.partitions import (
    evolve_partition_spec,
    partition_dirs,
)


@pytest.fixture()
def lake(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lake") / "t")
    df = spark.createDataFrame(
        [
            (i, "A" if i % 3 else "B", f"2023-0{1 + i % 4}-15", float(i))
            for i in range(200)
        ],
        "id long, status string, day string, v double",
    ).withColumn("day", F.to_date("day"))
    write_partitioned(df, d, ["status"])
    return d, df


class TestPartitionEvolution:
    def test_layout_rewritten_and_content_preserved(self, spark, lake):
        d, df = lake
        assert partition_dirs(d) == ["status=A", "status=B"]
        n = evolve_partition_spec(
            spark, d, {"status": "status", "month": F.month("day")}
        )
        dirs = partition_dirs(d)
        assert n == len(dirs) == 8  # 2 statuses x 4 months
        assert all("/month=" in x or x.startswith("status=") for x in dirs)
        back = spark.read.parquet(d)
        assert back.count() == 200
        assert sorted(
            tuple(r) for r in back.select("id", "status", "v").collect()
        ) == sorted(tuple(r) for r in df.select("id", "status", "v").collect())

    def test_pruning_under_new_spec(self, spark, lake):
        d, _ = lake
        evolve_partition_spec(
            spark, d, {"status": "status", "month": F.month("day")}
        )
        q = spark.read.parquet(d).filter("status = 'B' AND month = 2")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "month" in plan.split("PartitionFilters")[1][:200]
        assert q.count() == spark.read.parquet(d).filter(
            "status = 'B' AND month = 2"
        ).count()

    def test_crash_between_renames_recovers(self, spark, lake):
        d, _ = lake
        # simulate the crash window: live dir moved aside, new not installed
        os.rename(d, d + "._old")
        from iceberg_evolve_spark.sources import swap as _swap

        assert _swap.recover(d) is True
        assert partition_dirs(d) == ["status=A", "status=B"]

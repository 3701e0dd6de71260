"""As-of join and skew-utility tests."""

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.functions.asof import asof_join
from iceberg_evolve_spark.functions.skew import salted_agg, salted_join


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            ("A", "2024-01-01 10:00:00", 100.0),
            ("A", "2024-01-01 10:05:00", 101.0),
            ("A", "2024-01-01 10:10:00", 102.0),
            ("B", "2024-01-01 10:03:00", 50.0),
        ],
        "sym string, ts string, px double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


class TestAsofJoin:
    def test_backward_semantics(self, spark, quotes):
        trades = spark.createDataFrame(
            [
                ("A", "2024-01-01 10:04:00", 1),   # -> 100.0 (10:00)
                ("A", "2024-01-01 10:05:00", 2),   # -> 101.0 (inclusive <=)
                ("A", "2024-01-01 10:30:00", 3),   # -> 102.0 (latest)
                ("B", "2024-01-01 10:00:00", 4),   # -> NULL (no prior quote)
                ("B", "2024-01-01 10:04:00", 5),   # -> 50.0
                ("C", "2024-01-01 10:00:00", 6),   # -> NULL (unknown key)
            ],
            "sym string, ts string, trade_id int",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            r.trade_id: r.px_asof
            for r in asof_join(trades, quotes, on="sym", right_cols=["px"]).collect()
        }
        assert out == {1: 100.0, 2: 101.0, 3: 102.0, 4: None, 5: 50.0, 6: None}

    def test_keeps_all_left_rows_and_columns(self, spark, quotes):
        trades = spark.createDataFrame(
            [("A", "2024-01-01 11:00:00", 7, "note")],
            "sym string, ts string, trade_id int, memo string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = asof_join(trades, quotes, on="sym", right_cols=["px"])
        assert set(out.columns) == {"sym", "ts", "trade_id", "memo", "px_asof"}
        assert out.count() == 1


class TestSkewUtils:
    def test_salted_agg_matches_plain(self, spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        plain = {
            r.l_returnflag: (r.s, r.c)
            for r in li.groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("s"), F.count("l_orderkey").alias("c"))
            .collect()
        }
        salted = {
            r.l_returnflag: (r.sum_l_quantity, r.count_l_orderkey)
            for r in salted_agg(
                li, ["l_returnflag"], {"l_quantity": "sum", "l_orderkey": "count"}
            ).collect()
        }
        assert set(plain) == set(salted)
        for k in plain:
            assert abs(plain[k][0] - salted[k][0]) < 1e-6
            assert plain[k][1] == salted[k][1]

    def test_salted_join_matches_plain(self, spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        plain = orders.join(cust, orders.o_custkey == cust.c_custkey).count()
        salted = salted_join(
            orders.withColumnRenamed("o_custkey", "k"),
            cust.withColumnRenamed("c_custkey", "k"),
            on="k",
        ).count()
        assert plain == salted


class TestRangeJoin:
    def test_inner_and_left_with_bucket_spans(self, spark):
        from iceberg_evolve_spark.functions.range_join import range_join

        # intervals spanning multiple buckets, inclusive bounds, and a
        # point with no match at all
        points = spark.createDataFrame(
            [(1, 1, 100), (2, 1, 250), (3, 1, 900), (4, 2, 100)],
            "pid long, k long, ts long",
        )
        intervals = spark.createDataFrame(
            # [50, 260] spans buckets 0-2 at W=100; [240, 260] inside; none for k=2
            [(10, 1, 50, 260), (11, 1, 240, 260)],
            "iid long, k long, start long, end long",
        )
        inner = range_join(
            points, intervals, on="k", point_ts="ts", bucket_seconds=100
        )
        got = sorted((r.pid, r.iid) for r in inner.collect())
        assert got == [(1, 10), (2, 10), (2, 11)]

        left = range_join(
            points, intervals, on="k", point_ts="ts", bucket_seconds=100, how="left"
        )
        got_l = sorted((r.pid, r.iid) for r in left.collect())
        assert got_l == [(1, 10), (2, 10), (2, 11), (3, None), (4, None)]

    def test_left_null_payload_not_duplicated(self, spark):
        """Regression: a matched point carrying a NULL payload column must not
        be re-emitted as unmatched (null-unsafe anti-join bug)."""
        from iceberg_evolve_spark.functions.range_join import range_join

        points = spark.createDataFrame(
            [(1, 1, 100, None), (2, 1, 100, "x"), (3, 1, 900, None)],
            "pid long, k long, ts long, payload string",
        )
        intervals = spark.createDataFrame(
            [(10, 1, 50, 200)], "iid long, k long, start long, end long"
        )
        left = range_join(
            points, intervals, on="k", point_ts="ts", bucket_seconds=100, how="left"
        )
        got = sorted((r.pid, r.iid) for r in left.collect())
        assert got == [(1, 10), (2, 10), (3, None)]

    def test_inclusive_bounds(self, spark):
        from iceberg_evolve_spark.functions.range_join import range_join

        points = spark.createDataFrame([(1, 1, 100), (2, 1, 200)], "pid long, k long, ts long")
        intervals = spark.createDataFrame([(9, 1, 100, 200)], "iid long, k long, start long, end long")
        got = sorted(
            (r.pid, r.iid)
            for r in range_join(points, intervals, on="k", point_ts="ts", bucket_seconds=50).collect()
        )
        assert got == [(1, 9), (2, 9)]

    def test_negative_epochs(self, spark):
        # Pre-1970 points/intervals: floor-based buckets keep a point at
        # ts=-1 (bucket -1) joined to an interval [-10, 5]; the old long cast
        # truncated both toward zero, mapping -1/50 to bucket 0 on the point
        # but replicating the interval to buckets {-1, 0} only by accident of
        # truncation — brute force is the arbiter.
        import random

        from iceberg_evolve_spark.functions.range_join import range_join

        rng = random.Random(11)
        points = [(i, 1, rng.randrange(-300, 300)) for i in range(80)]
        intervals = []
        for j in range(40):
            s = rng.randrange(-300, 300)
            intervals.append((100 + j, 1, s, s + rng.randrange(0, 120)))
        pdf = spark.createDataFrame(points, "pid long, k long, ts long")
        idf = spark.createDataFrame(intervals, "iid long, k long, start long, end long")
        got = sorted(
            (r.pid, r.iid)
            for r in range_join(pdf, idf, on="k", point_ts="ts", bucket_seconds=50).collect()
        )
        want = sorted(
            (p[0], i[0])
            for p in points
            for i in intervals
            if i[2] <= p[2] <= i[3]
        )
        assert got == want

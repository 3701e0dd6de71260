import os

from iceberg_evolve_spark.sources.compact import compact, dir_stats
from iceberg_evolve_spark.sources.tables import load_table


class TestCompact:
    def test_compaction_reduces_files_preserves_rows(self, spark, sf_dir, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("frag")) + "/t"
        li = load_table(spark, sf_dir, "lineitem")
        li.repartition(37).write.parquet(d)  # fragmented layout
        n0, _ = dir_stats(d)
        assert n0 == 37
        rows_before = spark.read.parquet(d).count()
        n1 = compact(spark, d, target_mb=128, sort_cols=["l_orderkey"])
        assert n1 < n0
        after = spark.read.parquet(d)
        assert after.count() == rows_before
        assert sorted(after.columns) == sorted(li.columns)


class TestSwapRecovery:
    def test_recover_restores_half_finished_swap(self, spark, tmp_path):
        """Crash window: live dir moved aside, replacement not yet installed —
        recover() must bring the previous snapshot back instead of letting the
        next batch treat the target as empty."""
        from iceberg_evolve_spark.sources import swap

        tgt = str(tmp_path / "tgt")
        spark.range(5).write.parquet(tgt)
        # simulate the crash: target renamed aside, new dir never arrived
        os.rename(tgt, tgt + "._old")
        assert swap.recover(tgt) is True
        assert spark.read.parquet(tgt).count() == 5
        assert swap.recover(tgt) is False  # idempotent no-op when healthy

    def test_swap_installs_and_cleans(self, spark, tmp_path):
        from iceberg_evolve_spark.sources import swap

        tgt, tmp = str(tmp_path / "tgt"), str(tmp_path / "new")
        spark.range(3).write.parquet(tgt)
        spark.range(7).write.parquet(tmp)
        swap.swap(tmp, tgt)
        assert spark.read.parquet(tgt).count() == 7
        assert not os.path.exists(tgt + "._old")

"""Round-9 operators: SnapshotTable fast appends with data-sequence
semantics, and the merge-on-read CDC streaming sink built on them."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="ies-r9-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestFastAppend:
    def test_append_adds_rows_without_rewriting(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        v1 = t.write(spark.range(0, 100).withColumn("g", F.col("id") % 3))
        v2 = t.append(spark.range(100, 150).withColumn("g", F.col("id") % 3))
        assert (v1, v2) == (1, 2)
        assert t.read(spark).count() == 150
        # time travel: v1 unchanged
        assert t.read(spark, version=1).count() == 100

    def test_append_commit_is_o_new_files(self, spark, tdir):
        """VERDICT r9 task 1 done-criterion: a fast-append commit creates
        NO links, NO new data dir, and touches NO pre-existing file — the
        (inode, name) set of prior files is bit-identical and every new
        name is an s-prefixed file inside the SAME lineage dir, listed by
        exactly one new manifest."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 100).withColumn("g", F.col("id") % 3))
        lineage = os.path.join(t.path, "v00001")

        def snapshot_fs(d):
            out = {}
            for root, _dirs, names in os.walk(d):
                for n in names:
                    fp = os.path.join(root, n)
                    st = os.stat(fp)
                    out[os.path.relpath(fp, d)] = (
                        st.st_ino, st.st_size, st.st_mtime_ns, st.st_nlink
                    )
            return out

        before = snapshot_fs(lineage)
        assert all(nlink == 1 for (_i, _s, _m, nlink) in before.values())
        v2 = t.append(spark.range(100, 150).withColumn("g", F.col("id") % 3))
        after = snapshot_fs(lineage)
        # no other data dir appeared
        dirs = [
            n for n in os.listdir(t.path)
            if os.path.isdir(os.path.join(t.path, n)) and n.startswith("v")
        ]
        assert dirs == ["v00001"]
        # pre-existing files: same inode, size, mtime, and STILL one link
        for rel, sig in before.items():
            assert after[rel] == sig, f"append touched {rel}"
        new = set(after) - set(before)
        assert new and all(
            os.path.basename(r).startswith(f"s{v2:05d}-") for r in new
        )
        # exactly one new manifest, listing exactly the new files
        entry = t.versions()[-1]
        assert entry["manifests"][:-1] == t.versions()[-2]["manifests"]
        import json as _json

        with open(os.path.join(t.path, entry["manifests"][-1])) as fh:
            listed = set(_json.load(fh)["files"])
        assert listed == new

    def test_append_empty_is_noop(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(5))
        v = t.append(spark.range(5).filter(F.lit(False)))
        assert v == 1 and len(t.versions()) == 1

    def test_append_bootstraps_empty_table(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        v = t.append(spark.range(7))
        assert v == 1 and t.read(spark).count() == 7

    def test_eq_delete_does_not_kill_later_append(self, spark, tdir):
        """The data-sequence rule: an equality delete retires only data
        files with a strictly older sequence — the CDC upsert shape."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 10).withColumn("val", F.lit("old"))
        t.write(df)
        keys = spark.range(0, 3)  # retire ids 0..2
        t.delete_by_key(keys, ["id"])
        # re-insert the same keys with new payloads
        t.append(spark.range(0, 3).withColumn("val", F.lit("new")))
        got = {(r["id"], r["val"]) for r in t.read(spark).collect()}
        assert got == {(i, "old") for i in range(3, 10)} | {
            (i, "new") for i in range(3)
        }
        # and the delete still applies when time-traveling to its snapshot
        at_del = {r["id"] for r in t.read(spark, version=2).collect()}
        assert at_del == set(range(3, 10))

    def test_eq_delete_after_append_kills_both_generations(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 5).withColumn("val", F.lit("a")))
        t.append(spark.range(0, 5).withColumn("val", F.lit("b")))
        t.delete_by_key(spark.range(0, 2), ["id"])  # after both: kills both
        got = sorted(
            (r["id"], r["val"]) for r in t.read(spark).collect()
        )
        assert got == sorted(
            [(i, "a") for i in range(2, 5)] + [(i, "b") for i in range(2, 5)]
        )

    def test_pos_delete_survives_append(self, spark, tdir):
        """Positional deletes address rows by data_dir-RELATIVE path, so the
        hard-link forest of a later append preserves them."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 20))
        t.delete_where(spark, F.col("id") < 5)
        t.append(spark.range(100, 103))
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(5, 20)) + [100, 101, 102]

    def test_append_into_partitioned_layout(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 30).withColumn(
            "g", (F.col("id") % 2).cast("string")
        )
        t.write(df, partition_by=["g"])
        t.append(
            spark.range(30, 40).withColumn(
                "g", (F.col("id") % 2).cast("string")
            )
        )
        assert t.read(spark).count() == 40

    def test_rewrite_folds_appends_and_deletes(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10).withColumn("val", F.lit("x")))
        t.delete_by_key(spark.range(0, 4), ["id"])
        t.append(spark.range(0, 2).withColumn("val", F.lit("y")))
        before = sorted(
            (r["id"], r["val"]) for r in t.read(spark).collect()
        )
        v = t.rewrite_data_files(spark)
        after = sorted(
            (r["id"], r["val"]) for r in t.read(spark, version=v).collect()
        )
        assert before == after
        assert not t.versions()[-1].get("deletes")


CDC_SCHEMA = "k long, val string, op string, ts_ms long"


def _stage_wave(spark, watch_dir, rows, name):
    df = spark.createDataFrame(rows, CDC_SCHEMA).coalesce(1)
    stage = watch_dir + f".stage_{name}"
    df.write.mode("overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.makedirs(watch_dir, exist_ok=True)
    os.rename(
        os.path.join(stage, part), os.path.join(watch_dir, f"{name}.parquet")
    )
    shutil.rmtree(stage, ignore_errors=True)


class TestMorCdcStream:
    def _run(self, spark, tdir, waves, max_files=1):
        from iceberg_evolve_spark.streaming.sink import run_mor_cdc_stream

        src = os.path.join(tdir, "src")
        for i, rows in enumerate(waves):
            _stage_wave(spark, src, rows, f"w{i}")
        stream = (
            spark.readStream.schema(CDC_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .parquet(src)
        )
        tbl = os.path.join(tdir, "mor_table")
        q = run_mor_cdc_stream(
            stream, tbl, "k", os.path.join(tdir, "ckpt")
        )
        # availableNow is set by the caller contract in tests via trigger on
        # the started query's source options; run_mor_cdc_stream starts a
        # continuous query, so stop it once all data is processed
        q.processAllAvailable()
        q.stop()
        return SnapshotTable(tbl)

    def test_streamed_equals_batch_cdc(self, spark, tdir):
        """A delete-bearing CDC sequence through the MOR streaming sink must
        land at the same final state as the batch CDC operator."""
        from pyspark.sql import Window

        waves = [
            [(k, f"v{k}", "c", 10 + k) for k in range(10)],
            [(k, f"u{k}", "u", 100 + k) for k in range(0, 6, 2)]
            + [(7, None, "d", 107)],
            [(1, None, "d", 201), (1, "back", "c", 205), (99, "nine", "c", 209)]
            # several changes for one key, out of ts order: the greatest
            # ts wins, not the first or last row of the batch
            + [(3, "old", "u", 210), (3, "newest", "u", 230), (3, "mid", "u", 220)]
            # upsert/delete tie on ts: the delete wins
            + [(8, "e1", "u", 215), (8, None, "d", 215)],
        ]
        t = self._run(spark, tdir, waves)
        streamed = sorted(
            (r["k"], r["val"]) for r in t.read(spark).collect()
        )
        # batch replay: last change per key wins (ts is globally monotone
        # across waves here, so per-batch and global application agree)
        env = spark.createDataFrame(
            [r for w in waves for r in w], CDC_SCHEMA
        )
        w = Window.partitionBy("k").orderBy(
            F.col("ts_ms").desc(), (F.col("op") == "d").cast("int").desc()
        )
        batch = (
            env.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1 AND op != 'd'")
            .select("k", "val")
        )
        expected = sorted((r["k"], r["val"]) for r in batch.collect())
        assert streamed == expected
        assert (3, "newest") in streamed and 8 not in {k for k, _ in streamed}
        # MOR-ness: multiple commits, equality-delete files attached, and
        # appended (s-prefixed) data files present
        assert len(t.versions()) >= 3
        assert any(
            d["kind"] == "eq"
            for e in t.versions()
            for d in e.get("deletes", [])
        )

    def test_replayed_batch_is_skipped(self, spark, tdir):
        from iceberg_evolve_spark.streaming.sink import mor_cdc_batch_writer

        tbl = os.path.join(tdir, "t")
        writer = mor_cdc_batch_writer(spark, tbl, "k")
        b0 = spark.createDataFrame(
            [(1, "a", "c", 10), (2, "b", "c", 11)], CDC_SCHEMA
        )
        writer(b0, 0)
        b1 = spark.createDataFrame(
            [(1, "a2", "u", 20), (2, None, "d", 21)], CDC_SCHEMA
        )
        writer(b1, 1)
        state = sorted(
            (r["k"], r["val"])
            for r in SnapshotTable(tbl).read(spark).collect()
        )
        n_versions = len(SnapshotTable(tbl).versions())
        writer(b1, 1)  # at-least-once replay of the same batch id
        t = SnapshotTable(tbl)
        assert (
            sorted((r["k"], r["val"]) for r in t.read(spark).collect())
            == state
            == [(1, "a2")]
        )
        assert len(t.versions()) == n_versions  # no duplicate commits


class TestExpireWithAppends:
    def test_expire_keeps_current_files_alive(self, spark, tdir):
        """Expiring old snapshots of an append lineage removes NO data
        files (the current entry's manifests reference them all) and no
        dirs — files, not dirs, are the reclamation unit under shared
        lineage dirs; the current read is intact."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 50))
        t.append(spark.range(50, 80))
        t.append(spark.range(80, 90))
        expired, removed = t.expire_snapshots(keep_last=1)
        assert expired == [1, 2]
        assert not any(r.endswith(".parquet") for r in removed)
        assert os.path.isdir(os.path.join(t.path, "v00001"))
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(90))

    def test_expire_reclaims_rolled_back_append_files(self, spark, tdir):
        """Files only a rolled-back-away branch references ARE reclaimed
        once its entries expire — the per-file sweep inside a live lineage
        dir (crash-orphan cleanup shares this path)."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        t.append(spark.range(10, 20))        # v2: branch to abandon
        t.rollback(1)                        # v3
        v4 = t.append(spark.range(30, 35))   # v4 on the rolled-back base
        expired, removed = t.expire_snapshots(keep_last=2)  # keep v3, v4
        assert expired == [1, 2]
        # v2's s00002- files are referenced by NO surviving manifest
        assert any("s00002-" in r for r in removed)
        got = sorted(r["id"] for r in t.read(spark, version=v4).collect())
        assert got == list(range(10)) + list(range(30, 35))

    def test_expire_sweeps_crashed_staging_dirs(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(5))
        os.makedirs(os.path.join(t.path, "v00002.stage"))
        os.makedirs(os.path.join(t.path, "v00002.tmp"))
        _, _removed = t.expire_snapshots(keep_last=1)
        names = set(os.listdir(t.path))
        assert "v00002.stage" not in names and "v00002.tmp" not in names
        assert "v00001" in names


class TestMaintain:
    def test_maintain_noop_below_thresholds(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(10))
        t.delete_by_key(spark.range(2), ["id"])
        assert t.maintain(spark, max_delete_files=2) is None
        assert len(t.versions()) == 2  # nothing committed

    def test_maintain_folds_at_threshold(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(20))
        t.delete_by_key(spark.range(0, 2), ["id"])
        t.delete_by_key(spark.range(2, 4), ["id"])
        before = sorted(r["id"] for r in t.read(spark).collect())
        v = t.maintain(spark, max_delete_files=2)
        assert v is not None
        cur = t.versions()[-1]
        # folded: no delete files, manifest list consolidated to one
        assert not cur.get("deletes") and len(cur["manifests"]) == 1
        assert sorted(r["id"] for r in t.read(spark).collect()) == before

    def test_maintain_preserves_partition_spec(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(20).withColumn("g", (F.col("id") % 2).cast("string"))
        t.write(df, partition_by=["g"])
        t.delete_by_key(spark.range(3), ["id"])
        v = t.maintain(spark, max_delete_files=1)
        assert v is not None
        cur = t.versions()[-1]
        assert cur.get("partition_by") == ["g"]
        # compacted replacement files landed inside the key=value layout of
        # the SAME lineage dir (scoped compaction never makes a new dir)
        assert cur["data_dir"] == "v00001"
        import json as _json

        with open(os.path.join(t.path, cur["manifests"][0])) as fh:
            listed = _json.load(fh)["files"]
        assert any(r.startswith("g=") for r in listed)
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(3, 20))

    def test_stream_with_maintenance_bounds_delete_files(self, spark, tdir):
        """A delete-bearing stream with max_delete_files=1 compacts as it
        goes: final state identical, current snapshot carries no deletes."""
        from iceberg_evolve_spark.streaming.sink import mor_cdc_batch_writer

        tbl = os.path.join(tdir, "t")
        writer = mor_cdc_batch_writer(
            spark, tbl, "k", max_delete_files=1
        )
        writer(spark.createDataFrame(
            [(k, f"v{k}", "c", 10 + k) for k in range(6)], CDC_SCHEMA), 0)
        writer(spark.createDataFrame(
            [(0, "u0", "u", 100), (5, None, "d", 101)], CDC_SCHEMA), 1)
        writer(spark.createDataFrame(
            [(1, None, "d", 200), (9, "nine", "c", 201)], CDC_SCHEMA), 2)
        t = SnapshotTable(tbl)
        assert not t.versions()[-1].get("deletes")  # folded as it went
        got = sorted((r["k"], r["val"]) for r in t.read(spark).collect())
        assert got == [(0, "u0"), (2, "v2"), (3, "v3"), (4, "v4"), (9, "nine")]


class TestFilesDfSeq:
    def test_files_df_reports_data_sequence(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(10))
        t.delete_by_key(spark.range(2), ["id"])   # commit 2
        t.append(spark.range(10, 15))             # commit 3
        rows = t.files_df(spark).collect()
        by_content = {}
        for r in rows:
            by_content.setdefault(r["content"], set()).add(r["seq"])
        assert by_content["data"] == {1, 3}       # base files + appended
        assert by_content["eq-delete"] == {2}     # the delete's commit seq


class TestChangelogScan:
    def test_changes_between_basic(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        v1 = t.write(
            spark.range(0, 20).withColumn("g", (F.col("id") % 4).cast("int"))
        )
        t.delete_where(spark, F.col("id") < 3)                  # pos delete
        t.delete_by_key(
            spark.range(0, 20).filter("id % 10 = 1").select("id"), ["id"]
        )                                                       # eq delete
        vN = t.append(
            spark.range(100, 105).withColumn("g", F.lit(9))
        )
        log = t.changes_between(spark, v1, vN)
        got = sorted(
            (r["_change_type"], r["id"]) for r in log.collect()
        )
        # deletes: ids 0,1,2 (pos) plus 1,11 (eq) — id 1 emitted ONCE
        # inserts: 100..104
        assert got == sorted(
            [("delete", i) for i in (0, 1, 2, 11)]
            + [("insert", i) for i in range(100, 105)]
        )

    def test_changes_between_noop_range(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        v1 = t.write(spark.range(5))
        assert t.changes_between(spark, v1, v1).count() == 0

    def test_changes_rejected_across_compaction(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        v1 = t.write(spark.range(5))
        t.delete_where(spark, F.col("id") < 1)
        vc = t.rewrite_data_files(spark)
        with pytest.raises(ValueError, match="rewrite|compaction"):
            t.changes_between(spark, v1, vc)


class TestTags:
    def test_tag_read_and_immutability(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        v1 = t.write(spark.range(10))
        t.write(spark.range(99))
        assert t.tag("release-1", v1) == v1
        assert t.read_ref(spark, "release-1").count() == 10
        with pytest.raises(ValueError, match="do not move"):
            t.tag("release-1", 2)
        t.drop_tag("release-1")
        t.tag("release-1", 2)  # re-usable after an explicit drop
        assert t.read_ref(spark, "release-1").count() == 99

    def test_tag_defaults_to_current_and_validates(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(3))
        assert t.tag("tip") == 1
        with pytest.raises(LookupError):
            t.tag("nope", 42)
        with pytest.raises(KeyError):
            t.read_ref(spark, "missing")

    def test_expire_keeps_tagged_snapshots(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        v1 = t.write(spark.range(5))
        t.write(spark.range(6))
        t.write(spark.range(7))
        t.tag("audited", v1)
        expired, _ = t.expire_snapshots(keep_last=1)
        assert v1 not in expired  # pinned by the tag
        assert t.read_ref(spark, "audited").count() == 5
        # dropping the tag releases it to the next retention pass
        t.drop_tag("audited")
        expired2, _ = t.expire_snapshots(keep_last=1)
        assert v1 in expired2


class TestWriteAuditPublish:
    def test_staged_invisible_until_publish(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(5))
        t.stage(spark.range(100, 110), "batch-7")
        assert t.read(spark).count() == 5            # audit-invisible
        assert t.read_staged(spark, "batch-7").count() == 10
        v = t.publish("batch-7", note="audited ok")
        assert t.read(spark, version=v).count() == 10
        assert len(t.versions()) == 2
        with pytest.raises(FileNotFoundError):
            t.read_staged(spark, "batch-7")          # consumed by publish

    def test_discard_and_restage(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.stage(spark.range(3), "x")
        t.stage(spark.range(8), "x")                 # restage replaces
        assert t.read_staged(spark, "x").count() == 8
        t.discard_staged("x")
        with pytest.raises(FileNotFoundError):
            t.read_staged(spark, "x")
        assert t.versions() == []                    # nothing published

    def test_wap_with_dq_gate(self, spark, tdir):
        """The composition WAP exists for: stage → run DQ expectations →
        publish only on pass; a failing batch is discarded and never
        becomes a snapshot."""
        from iceberg_evolve_spark.functions.dq import (
            in_range, not_null, run_checks,
        )

        t = SnapshotTable(os.path.join(tdir, "t"))
        good = spark.range(10).withColumn("score", F.col("id") % 5)
        bad = spark.range(5).withColumn(
            "score", F.when(F.col("id") < 2, None).otherwise(F.lit(99))
        )
        checks = [not_null("score"), in_range("score", 0, 10)]
        for sid, df in (("g", good), ("b", bad)):
            t.stage(df, sid)
            results = run_checks(t.read_staged(spark, sid), checks)
            failed = any(not passed for (*_rest, passed) in results)
            if failed:
                t.discard_staged(sid)
            else:
                t.publish(sid)
        assert len(t.versions()) == 1
        assert t.read(spark).count() == 10

    def test_staged_partitioned_publish(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(12).withColumn("g", (F.col("id") % 3).cast("string"))
        t.stage(df, "p1", partition_by=["g"])
        v = t.publish("p1")
        assert t.versions()[-1].get("partition_by") == ["g"]
        # appends honor the published spec; reads see the full layout
        t.append(spark.range(12, 15).withColumn("g", F.lit("9")))
        assert t.read(spark).count() == 15
        kept, total = t.plan_scan(where={"g": ("1", "1")})
        assert 0 < len(kept) < total

    def test_expire_sweep_ignores_staging(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(4))
        t.write(spark.range(5))
        t.stage(spark.range(9), "keepme")
        t.expire_snapshots(keep_last=1)
        assert t.read_staged(spark, "keepme").count() == 9

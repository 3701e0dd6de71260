"""Round-10 storage-layer semantics: manifest-list commits, rollback-aware
changelog scans (with the value-diff fallback across rewrite boundaries),
WAP staged-append publish, the pos-delete path-scheme guard, and dual-commit
CDC replay stamping."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="ies-r10-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rewrite_head_commit(t: SnapshotTable, head: dict) -> None:
    """Forge persisted state: overwrite the head's commit file in place
    (the log's on-disk form) with ``head``."""
    with open(t._commit_file(head["version"]), "w") as fh:
        json.dump(head, fh, indent=1)


class TestChangelogBoundaries:
    def test_rollback_in_range_is_detected(self, spark, tdir):
        """ADVICE r9: write v1, append v2, rollback-to-v1 v3, append v4 —
        changes_between(v2, v4) must NOT silently emit only the v4 insert
        (the v2-appended row was deleted by the rollback)."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 5))
        v2 = t.append(spark.range(10, 12))
        t.rollback(1)
        v4 = t.append(spark.range(20, 22))
        with pytest.raises(ValueError, match="rollback"):
            t.changes_between(spark, v2, v4)

    def test_rollback_fallback_value_diff(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 5))
        v2 = t.append(spark.range(10, 12))
        t.rollback(1)
        v4 = t.append(spark.range(20, 22))
        log = t.changes_between(
            spark, v2, v4, allow_rewrite_boundary=True
        )
        got = sorted((r["_change_type"], r["id"]) for r in log.collect())
        # net: rows 10,11 vanished (rollback), rows 20,21 appeared
        assert got == [
            ("delete", 10), ("delete", 11),
            ("insert", 20), ("insert", 21),
        ]

    def test_compaction_fallback_equals_net_oracle(self, spark, tdir):
        """VERDICT r9 task 6 done-criterion: changelog across a
        rewrite_data_files equals the net-changes oracle (value diff of the
        two reads, multiplicity-aware)."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        v1 = t.write(spark.range(0, 20).withColumn("g", F.col("id") % 3))
        t.delete_where(spark, F.col("id") < 4)
        t.rewrite_data_files(spark)  # boundary inside the range
        vN = t.append(spark.range(100, 103).withColumn("g", F.lit(9)))
        with pytest.raises(ValueError, match="rewrite|compaction"):
            t.changes_between(spark, v1, vN)
        log = t.changes_between(spark, v1, vN, allow_rewrite_boundary=True)
        got = sorted((r["_change_type"], r["id"]) for r in log.collect())
        d_from = t.read(spark, version=v1)
        d_to = t.read(spark, version=vN)
        oracle = sorted(
            [("insert", r["id"]) for r in d_to.exceptAll(d_from).collect()]
            + [("delete", r["id"]) for r in d_from.exceptAll(d_to).collect()]
        )
        assert got == oracle
        assert got == sorted(
            [("delete", i) for i in range(4)]
            + [("insert", i) for i in (100, 101, 102)]
        )

    def test_rollback_replacing_deletes_same_count_detected(self, spark, tdir):
        """The membership (not len) check: a range where the delete SET
        changed but the COUNT did not is still refused."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        v2 = t.delete_where(spark, F.col("id") == 0)     # deletes: {A}
        t.rollback(1)                                    # deletes: {}
        v4 = t.delete_where(spark, F.col("id") == 1)     # deletes: {B}
        # len(from.deletes) == len(to.deletes) == 1, but A is gone
        with pytest.raises(ValueError, match="rollback|removed"):
            t.changes_between(spark, v2, v4)


class TestWapAppendPublish:
    def test_staged_append_keeps_prior_rows(self, spark, tdir):
        """VERDICT r9 task 5 done-criteria: prior rows survive publication,
        staged rows carry a fresh data-sequence, and eq-deletes older than
        the publish don't touch them."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10).withColumn("val", F.lit("old")))
        # an equality delete OLDER than the publish, retiring ids 0-2
        t.delete_by_key(spark.range(0, 3), ["id"])
        t.stage(spark.range(0, 4).withColumn("val", F.lit("new")), "day1")
        v = t.publish("day1", mode="append")
        got = sorted((r["id"], r["val"]) for r in t.read(spark).collect())
        # old rows 3..9 survive; published rows 0..3 ALL survive the older
        # eq-delete (fresh data sequence), including the re-inserted 0..2
        assert got == sorted(
            [(i, "old") for i in range(3, 10)]
            + [(i, "new") for i in range(4)]
        )
        entry = t.versions()[-1]
        assert entry["version"] == v and entry.get("has_appends")
        # fresh sequence: the published files carry the s{v}- prefix
        assert all(
            os.path.basename(p).startswith(f"s{v:05d}-")
            for p in t._entry_files(entry)
            if p not in t._entry_files(t.versions()[0])
        )
        # staged dir consumed
        with pytest.raises(FileNotFoundError):
            t.read_staged(spark, "day1")

    def test_staged_append_bootstrap_and_empty(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.stage(spark.range(5), "b0")
        v = t.publish("b0", mode="append")  # empty table: overwrite path
        assert v == 1 and t.read(spark).count() == 5
        t.stage(spark.range(5).filter(F.lit(False)), "b1")
        v2 = t.publish("b1", mode="append")
        assert v2 == 1 and len(t.versions()) == 1  # no empty commits

    def test_staged_append_partition_mismatch_rejected(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(6).withColumn("g", (F.col("id") % 2).cast("string"))
        t.write(df, partition_by=["g"])
        t.stage(spark.range(6, 9).withColumn("g", F.lit("9")), "bad")
        with pytest.raises(ValueError, match="partition spec"):
            t.publish("bad", mode="append")
        # matching spec works and the layout stays prunable
        t.stage(
            spark.range(6, 9).withColumn("g", F.lit("1")),
            "good",
            partition_by=["g"],
        )
        t.publish("good", mode="append")
        assert t.read(spark).count() == 9
        kept, total = t.plan_scan(where={"g": ("1", "1")})
        assert 0 < len(kept) < total


class TestPosDeletePathGuard:
    def test_absolute_path_delete_files_are_refused(self, spark, tdir):
        """ADVICE r9: pos-delete files recorded under the pre-r9 ABSOLUTE
        path scheme must fail loudly, not silently resurrect rows."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        t.delete_where(spark, F.col("id") < 3)
        entries = t.versions()
        d = entries[-1]["deletes"][0]
        # forge a legacy delete file: absolute paths, no "paths" stamp
        ddir = os.path.join(t.path, d["dir"])
        old = spark.read.parquet(ddir)
        legacy = old.withColumn(
            "_file", F.concat(F.lit(t.path + "/v00001/"), F.col("_file"))
        ).select("_file", "_pos")
        tmp = ddir + ".rewrite"
        legacy.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(ddir)
        os.rename(tmp, ddir)
        del d["paths"]
        _rewrite_head_commit(t, entries[-1])
        with pytest.raises(ValueError, match="ABSOLUTE"):
            t.read(spark).count()

    def test_unstamped_relative_paths_still_apply(self, spark, tdir):
        """An unstamped delete file whose paths are relative (the r9 writer)
        passes the peek and keeps working — the guard only rejects what is
        provably broken."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        t.delete_where(spark, F.col("id") < 3)
        entries = t.versions()
        del entries[-1]["deletes"][0]["paths"]
        _rewrite_head_commit(t, entries[-1])
        assert t.read(spark).count() == 7


class TestCdcRetireStamp:
    def test_crash_between_commits_does_not_stack_deletes(self, spark, tdir):
        """ADVICE r9: a crash after the delete commit but before the append
        commit must not accumulate one equality-delete file per replay."""
        from iceberg_evolve_spark.streaming.sink import mor_cdc_batch_writer

        CDC_SCHEMA = "k long, val string, op string, ts_ms long"
        tbl = os.path.join(tdir, "t")
        writer = mor_cdc_batch_writer(spark, tbl, "k")
        writer(
            spark.createDataFrame(
                [(k, f"v{k}", "c", 10 + k) for k in range(5)], CDC_SCHEMA
            ),
            0,
        )
        b1 = spark.createDataFrame(
            [(1, "u1", "u", 100), (2, None, "d", 101)], CDC_SCHEMA
        )
        # simulate the crash window: run ONLY the delete commit by calling
        # the real writer, then rolling the append commit back off the log
        writer(b1, 1)
        t = SnapshotTable(tbl)
        entries = t.versions()
        assert "append" in (entries[-1].get("note") or "")
        # crash: the append's commit file was never linked
        os.unlink(t._commit_file(entries[-1]["version"]))
        n_delete_files = len(t.versions()[-1].get("deletes", []))
        writer(b1, 1)  # at-least-once replay
        t2 = SnapshotTable(tbl)
        # the retire stamp skipped the delete step: same delete-file count
        assert len(t2.versions()[-1].get("deletes", [])) == n_delete_files
        got = sorted((r["k"], r["val"]) for r in t2.read(spark).collect())
        assert got == [(0, "v0"), (1, "u1"), (3, "v3"), (4, "v4")]

    def test_both_commits_stamped(self, spark, tdir):
        from iceberg_evolve_spark.streaming.sink import mor_cdc_batch_writer

        CDC_SCHEMA = "k long, val string, op string, ts_ms long"
        tbl = os.path.join(tdir, "t")
        writer = mor_cdc_batch_writer(spark, tbl, "k")
        writer(
            spark.createDataFrame([(1, "a", "c", 1)], CDC_SCHEMA), 0
        )
        writer(
            spark.createDataFrame(
                [(1, "b", "u", 2), (9, "x", "c", 3)], CDC_SCHEMA
            ),
            1,
        )
        notes = [(e.get("note") or "") for e in SnapshotTable(tbl).versions()]
        tokens = [n.split(" ", 1)[0] for n in notes]
        assert "cdc-batch:1:retire" in tokens  # delete commit stamped
        assert "cdc-batch:1" in tokens         # final commit stamped


class TestManifestCommits:
    def test_snapshot_log_grows_o_manifests_not_files(self, spark, tdir):
        """The metadata-plane scale property VERDICT r9 flagged: each append
        adds ONE manifest reference to the log entry, and the new manifest
        lists ONLY that commit's files — per-commit metadata is O(new
        files), independent of table size."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 1000).repartition(8))
        for i in range(3):
            t.append(spark.range(1000 + i, 1001 + i).coalesce(1))
        entries = t.versions()
        assert [len(e["manifests"]) for e in entries] == [1, 2, 3, 4]
        for e in entries[1:]:
            with open(os.path.join(t.path, e["manifests"][-1])) as fh:
                added = json.load(fh)["files"]
            assert len(added) == 1  # one coalesced part file per append
        assert t.read(spark).count() == 1003

    def test_crash_orphan_append_files_are_invisible(self, spark, tdir):
        """Files moved into the lineage dir by a crashed append (no log
        commit) are not read — manifest-list visibility — and the retention
        sweep reclaims them."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        lineage = os.path.join(t.path, "v00001")
        # forge a crashed append: an s-file present but never committed
        part = next(
            n for n in os.listdir(lineage) if n.endswith(".parquet")
        )
        shutil.copyfile(
            os.path.join(lineage, part),
            os.path.join(lineage, f"s00099-{part}"),
        )
        assert t.read(spark).count() == 10  # not 20: orphan invisible
        _, removed = t.expire_snapshots(keep_last=1)
        assert any("s00099-" in r for r in removed)
        assert t.read(spark).count() == 10


class TestSortOrder:
    def test_sorted_write_makes_pruning_selective(self, spark, tdir):
        """The point of a sort order: the same data written WITH the spec
        prunes to a strict subset of files on a range scan; written
        without it, every file's bounds span the domain and nothing can be
        proven absent."""
        from pyspark.sql import functions as F

        df = spark.range(0, 10000).withColumn(
            "v", (F.col("id") * 2654435761 % 10000).cast("long")
        ).repartition(8)
        flat = SnapshotTable(os.path.join(tdir, "flat"))
        flat.write(df)
        clustered = SnapshotTable(os.path.join(tdir, "clustered"))
        # sort_files pins file granularity (KB-scale test data: AQE would
        # correctly coalesce to one file and leave nothing to prune)
        clustered.write(df, sort_by=["v"], sort_files=8)
        where = {"v": (100, 200)}
        kept_f, total_f = flat.plan_scan(where=where)
        kept_c, total_c = clustered.plan_scan(where=where)
        assert total_c > 1
        assert len(kept_c) < total_c          # clustering prunes
        assert len(kept_c) < max(len(kept_f), 2)
        # identical results either way (pruning is correctness-neutral)
        a = sorted(r["id"] for r in flat.read(spark, where=where).collect())
        b = sorted(r["id"] for r in clustered.read(spark, where=where).collect())
        assert a == b and len(a) > 0

    def test_sort_order_survives_append_delete_compact(self, spark, tdir):
        from pyspark.sql import functions as F

        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 5000).withColumn(
            "v", (F.col("id") * 48271 % 5000).cast("long")
        )
        t.write(df, sort_by=["v"])
        t.append(
            spark.range(5000, 6000).withColumn(
                "v", (F.col("id") * 48271 % 5000 + 5000).cast("long")
            )
        )
        t.delete_where(spark, F.col("v") < 10)
        v = t.rewrite_data_files(spark)
        for e in t.versions():
            assert e.get("sort_by") == ["v"], e["version"]
        # appended increment clustered on its own: range scan in the
        # appended band still prunes below the full file count
        kept, total = t.plan_scan(version=v, where={"v": (5100, 5200)})
        assert len(kept) < total
        got = t.read(spark, version=v, where={"v": (0, 20)})
        assert sorted(r["v"] for r in got.collect()) == list(range(10, 21))


class TestTableStats:
    def test_analyze_and_stats_df(self, spark, tdir):
        """Puffin-style snapshot statistics: one aggregation pass, NDV from
        JVM-side HLL++, persisted per version, describing the MOR view a
        query actually sees."""
        from pyspark.sql import functions as F

        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 1000).withColumn(
            "g", (F.col("id") % 7).cast("long")
        ).withColumn(
            "s", F.when(F.col("id") % 10 == 0, None).otherwise(
                F.concat(F.lit("u"), (F.col("id") % 50).cast("string"))
            )
        )
        v1 = t.write(df)
        st = t.analyze(spark, ["g", "s"])
        assert st["_n_rows"] == 1000
        assert st["g"]["ndv"] == 7 and st["g"]["n_nulls"] == 0
        assert st["s"]["n_nulls"] == 100
        # s has 45 exact distinct non-null values (ids divisible by 10 are
        # NULL, removing the 5 residues 0/10/20/30/40 of id % 50);
        # HLL++ default rsd 5% must land within tolerance of that
        assert abs(st["s"]["ndv"] - 45) <= 5
        rows = {r["column"]: r for r in t.stats_df(spark).collect()}
        assert rows["g"]["ndv"] == 7 and rows["g"]["n_rows"] == 1000
        assert rows["g"]["min"] == "0" and rows["g"]["max"] == "6"
        # stats describe the merge-on-read view: delete, re-analyze
        t.delete_where(spark, F.col("g") == 0)
        t.analyze(spark, ["g"])
        assert t.stats()["g"]["ndv"] == 6
        assert t.stats()["_n_rows"] < 1000
        # v1's stats are version-keyed and untouched
        assert t.stats(version=v1)["g"]["ndv"] == 7

    def test_stats_retention(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(5))
        t.analyze(spark, ["id"])
        t.write(spark.range(9))
        t.analyze(spark, ["id"])
        _, removed = t.expire_snapshots(keep_last=1)
        assert any(r.startswith("_stats/00001") for r in removed)
        assert t.stats() is not None          # survivor keeps its stats
        with pytest.raises(LookupError):
            t.stats_df(t.read(spark).sparkSession, version=1)  # expired

    def test_analyze_unknown_column_raises(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(3))
        with pytest.raises(ValueError, match="not in table"):
            t.analyze(spark, ["nope"])
        assert t.stats() is None  # nothing persisted


class TestChangelogIvm:
    def test_rollup_refresh_from_changelog(self, spark, tdir):
        """The changelog scan's reason to exist: refresh a materialized
        rollup between two snapshot versions from the changes alone —
        result identical to a full recompute at the new version, including
        the non-invertible MAX (repaired only for touched groups)."""
        from iceberg_evolve_spark.operators.incremental import (
            maintain_from_changelog,
        )

        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 500).withColumn(
            "g", (F.col("id") % 5).cast("long")
        ).withColumn("x", (F.col("id") * 7 % 101).cast("long"))

        def rollup(d):
            return d.groupBy("g").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("sx"),
                F.max("x").alias("mx"),
            )

        v1 = t.write(df)
        base_agg = rollup(t.read(spark, version=v1))
        # deletes that remove group maxima AND an append with new groups
        t.delete_where(spark, F.col("x") > 90)
        vN = t.append(
            spark.range(1000, 1060).withColumn(
                "g", (F.col("id") % 7).cast("long")
            ).withColumn("x", (F.col("id") % 44).cast("long"))
        )
        log = t.changes_between(spark, v1, vN)
        refreshed = maintain_from_changelog(
            base_agg,
            log,
            t.read(spark, version=vN),
            keys=["g"],
            row_key="id",
            sum_cols={"x": "sx"},
            count_col="n",
            max_cols={"x": "mx"},
        )
        got = sorted(tuple(r) for r in refreshed.collect())
        want = sorted(
            tuple(r) for r in rollup(t.read(spark, version=vN)).collect()
        )
        assert got == want


class TestStreamingMetadataBounds:
    def test_long_cdc_stream_keeps_metadata_bounded(self, spark, tdir):
        """The 100 TB streaming claim made concrete at harness scale: a
        30-batch CDC stream through the MOR sink with maintenance keeps
        EVERY metadata dimension bounded — delete files and manifests
        below the fold thresholds, data files bounded by the binpack, and
        no unreferenced garbage beyond what one retention pass reclaims.
        Under the r9 hard-link layout the same sequence grew
        O(batches x files) directory entries."""
        from iceberg_evolve_spark.operators.merge import merge_upsert  # noqa: F401
        from iceberg_evolve_spark.streaming.sink import mor_cdc_batch_writer

        CDC_SCHEMA = "k long, val string, op string, ts_ms long"
        tbl = os.path.join(tdir, "t")
        writer = mor_cdc_batch_writer(spark, tbl, "k", max_delete_files=4)
        rng_state = 41
        state = {}
        ts = 0
        for b in range(30):
            rows = []
            for _ in range(6):
                rng_state = (rng_state * 48271) % (2**31 - 1)
                k = rng_state % 40
                ts += 1
                if k in state and rng_state % 5 == 0:
                    rows.append((k, None, "d", ts))
                    state.pop(k)
                else:
                    rows.append((k, f"v{ts}", "u" if k in state else "c", ts))
                    state[k] = f"v{ts}"
            writer(spark.createDataFrame(rows, CDC_SCHEMA), b)
        t = SnapshotTable(tbl)
        cur = t.versions()[-1]
        # bounded by the maintenance thresholds, not by batch count
        assert len(cur.get("deletes", [])) <= 4
        assert len(cur["manifests"]) <= 40  # fold consolidates; never 2/batch * 30 unbounded growth
        # converged state == the model
        got = {(r["k"], r["val"]) for r in t.read(spark).collect()}
        assert got == set(state.items())
        # one retention pass leaves only referenced storage
        t.expire_snapshots(keep_last=2)
        live = set()
        for e in t.versions():
            live.update(t._entry_files(e) if e.get("manifests") else [])
        dd = os.path.join(t.path, t.versions()[-1]["data_dir"])
        on_disk = {
            os.path.relpath(os.path.join(r, n), dd)
            for r, _d, ns in os.walk(dd)
            for n in ns
            if n.endswith(".parquet")
        }
        assert on_disk <= live | set()  # no orphan data files survive
        assert {(r["k"], r["val"]) for r in t.read(spark).collect()} == set(
            state.items()
        )


class TestDeletionVectors:
    """Iceberg v3 deletion vectors: one merged per-file positional structure
    per snapshot, superseding on every vector delete — K delete commits cost
    the reader ONE anti-join (v2 positional files cost K)."""

    def test_vector_delete_matches_filter(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 100).withColumn("g", F.col("id") % 7)
        t.write(df)
        t.delete_where(spark, F.col("id") % 10 == 0, vector=True)
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == [i for i in range(100) if i % 10 != 0]

    def test_vectors_merge_to_one_entry(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 100))
        t.delete_where(spark, F.col("id") < 10, vector=True)
        t.delete_where(spark, F.col("id") >= 90, vector=True)
        t.delete_where(spark, F.col("id") % 2 == 1, vector=True)
        cur = t.versions()[-1]
        dvs = [d for d in cur["deletes"] if d["kind"] == "dv"]
        assert len(dvs) == 1  # read amplification stays at exactly one
        assert len(cur["deletes"]) == 1
        assert len(dvs[0]["supersedes"]) == 2
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == [i for i in range(10, 90) if i % 2 == 0]

    def test_time_travel_through_superseded_vectors(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 50))
        v2 = t.delete_where(spark, F.col("id") < 5, vector=True)
        v3 = t.delete_where(spark, F.col("id") >= 45, vector=True)
        assert sorted(r["id"] for r in t.read(spark, version=v2).collect()) == list(range(5, 50))
        assert sorted(r["id"] for r in t.read(spark, version=v3).collect()) == list(range(5, 45))

    def test_empty_vector_delete_is_no_commit(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        v2 = t.delete_where(spark, F.col("id") < 3, vector=True)
        # re-deleting already-vectored rows matches nothing new
        assert t.delete_where(spark, F.col("id") < 3, vector=True) == v2
        assert t.versions()[-1]["version"] == v2

    def test_vector_is_file_scoped_appends_survive(self, spark, tdir):
        """Positions are per-file: rows appended AFTER a vector delete live
        in files the vector cannot reference, so they survive even when
        they'd match the original predicate."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 20))
        t.delete_where(spark, F.col("id") >= 10, vector=True)
        t.append(spark.range(10, 15))  # same values as deleted ones
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(0, 15))
        # and a second vector delete can hit the appended files too
        t.delete_where(spark, F.col("id") == 12, vector=True)
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == [i for i in range(0, 15) if i != 12]

    def test_vector_composes_with_eq_delete(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 30).withColumn("k", F.col("id") % 3))
        t.delete_where(spark, F.col("id") < 6, vector=True)
        t.delete_by_key(spark.createDataFrame([(2,)], "k long"), ["k"])
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == [i for i in range(6, 30) if i % 3 != 2]

    def test_changelog_attributes_vector_delta(self, spark, tdir):
        """changes_between across vector commits emits exactly the delta
        positions' rows as deletes — not the whole vector."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 40))
        v2 = t.delete_where(spark, F.col("id") < 5, vector=True)
        v3 = t.delete_where(spark, F.col("id") >= 35, vector=True)
        v4 = t.append(spark.range(100, 103))
        log = t.changes_between(spark, v2, v4)
        got = sorted((r["_change_type"], r["id"]) for r in log.collect())
        assert got == [
            ("delete", 35), ("delete", 36), ("delete", 37),
            ("delete", 38), ("delete", 39),
            ("insert", 100), ("insert", 101), ("insert", 102),
        ]
        # unchanged vector across the range: no deletes emitted
        log2 = t.changes_between(spark, v3, v4)
        got2 = sorted((r["_change_type"], r["id"]) for r in log2.collect())
        assert got2 == [("insert", 100), ("insert", 101), ("insert", 102)]

    def test_changelog_detects_vector_rollback(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 20))
        v2 = t.delete_where(spark, F.col("id") < 5, vector=True)
        t.rollback(1)
        v4 = t.append(spark.range(50, 52))
        with pytest.raises(ValueError, match="rollback"):
            t.changes_between(spark, v2, v4)

    def test_compaction_folds_vector(self, spark, tdir):
        """Scoped rewrite treats the vector's _file column as its scope:
        referenced files are rewritten without their deleted rows, the
        vector entry is dropped, untouched files carry byte-identical."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 100).repartition(8))
        t.delete_where(spark, F.col("id") % 10 == 3, vector=True)
        before = {
            rel: os.path.getsize(os.path.join(t.path, "v00001", rel))
            for rel in t._entry_files(t.versions()[-1])
        }
        t.rewrite_data_files(spark)
        cur = t.versions()[-1]
        assert cur.get("deletes", []) == []
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == [i for i in range(100) if i % 10 != 3]
        # every carried (untouched) file is byte-identical
        after_files = set(t._entry_files(cur))
        for rel, size in before.items():
            if rel in after_files:
                assert os.path.getsize(os.path.join(t.path, "v00001", rel)) == size

    def test_retention_reclaims_superseded_vectors(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 20))
        t.delete_where(spark, F.col("id") < 3, vector=True)
        old_dv = t._dv_entry(t.versions()[-1])["dir"]
        t.delete_where(spark, F.col("id") >= 18, vector=True)
        assert os.path.isdir(os.path.join(t.path, old_dv))
        _, removed = t.expire_snapshots(keep_last=1)
        assert old_dv in removed
        assert not os.path.isdir(os.path.join(t.path, old_dv))
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(3, 18))

    def test_files_df_reports_vector(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 20))
        t.delete_where(spark, F.col("id") < 3, vector=True)
        rows = t.files_df(spark).collect()
        kinds = {r["content"] for r in rows}
        assert "dv-delete" in kinds


class TestPartitionStats:
    """Iceberg partition statistics files: per-partition file/row/byte
    totals + attributed positional-delete pressure, from metadata only."""

    def test_partitioned_counts_match_data(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 90).withColumn("p", (F.col("id") % 3).cast("string"))
        t.write(df, partition_by=["p"])
        st = {r["partition"]: r for r in t.partition_stats_df(spark).collect()}
        assert set(st) == {"p=0", "p=1", "p=2"}
        for part, r in st.items():
            assert r["data_row_count"] == 30
            assert r["data_file_count"] >= 1
            assert r["data_bytes"] > 0
            assert r["delete_record_count"] == 0

    def test_vector_deletes_attributed_per_partition(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 90).withColumn("p", (F.col("id") % 3).cast("string"))
        t.write(df, partition_by=["p"])
        # delete 10 rows, all in partition p=0 (ids ≡ 0 mod 3, < 30)
        t.delete_where(
            spark, (F.col("id") % 3 == 0) & (F.col("id") < 30), vector=True
        )
        st = {r["partition"]: r for r in t.partition_stats_df(spark).collect()}
        assert st["p=0"]["delete_record_count"] == 10
        assert st["p=1"]["delete_record_count"] == 0
        assert st["p=2"]["delete_record_count"] == 0
        # data_row_count stays physical (live = data - deletes)
        assert st["p=0"]["data_row_count"] == 30

    def test_pos_deletes_and_eq_reported(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 40).withColumn("p", (F.col("id") % 2).cast("string"))
        t.write(df, partition_by=["p"])
        t.delete_where(spark, F.col("id") < 4)  # pos: 2 rows per partition
        t.delete_by_key(spark.createDataFrame([(38,)], "id long"), ["id"])
        st = {r["partition"]: r for r in t.partition_stats_df(spark).collect()}
        assert st["p=0"]["delete_record_count"] == 2
        assert st["p=1"]["delete_record_count"] == 2
        # eq deletes are key-scoped: counted, never attributed
        assert all(r["eq_delete_files"] == 1 for r in st.values())

    def test_unpartitioned_single_row(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 25))
        rows = t.partition_stats_df(spark).collect()
        assert len(rows) == 1
        assert rows[0]["partition"] == ""
        assert rows[0]["data_row_count"] == 25

    def test_time_travel_stats(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 20).withColumn("p", (F.col("id") % 2).cast("string"))
        v1 = t.write(df, partition_by=["p"])
        t.delete_where(spark, F.col("id") < 10, vector=True)
        old = {r["partition"]: r for r in t.partition_stats_df(spark, version=v1).collect()}
        assert all(r["delete_record_count"] == 0 for r in old.values())
        cur = {r["partition"]: r for r in t.partition_stats_df(spark).collect()}
        assert sum(r["delete_record_count"] for r in cur.values()) == 10


class TestCboJoinPlanning:
    """Stats-driven join planning: the catalog-CBO decisions (broadcast /
    shuffle / salt, output-size estimate) made from snapshot statistics and
    manifest byte totals — metadata only — then applied as Catalyst hints."""

    def _tables(self, spark, tdir, n_fact=5000, n_dim=20):
        from iceberg_evolve_spark.sources.snapshots import SnapshotTable
        fact = SnapshotTable(os.path.join(tdir, "fact"))
        dim = SnapshotTable(os.path.join(tdir, "dim"))
        fact.write(
            spark.range(0, n_fact).select(
                F.col("id").alias("fk"), (F.col("id") % n_dim).alias("k")
            )
        )
        dim.write(
            spark.range(0, n_dim).select(
                F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
            )
        )
        fact.analyze(spark, ["k"])
        dim.analyze(spark, ["k"])
        return fact, dim

    def test_estimate_matches_exact_uniform(self, spark, tdir):
        from iceberg_evolve_spark.operators.cbo import estimate_equi_join_rows
        fact, dim = self._tables(spark, tdir)
        est = estimate_equi_join_rows(fact.stats(), dim.stats(), "k", "k")
        # uniform keys: exact join size is n_fact (each fact row matches 1 dim)
        assert abs(est - 5000) <= 0.1 * 5000  # HLL NDV tolerance

    def test_disjoint_ranges_estimate_zero(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshots import SnapshotTable
        from iceberg_evolve_spark.operators.cbo import estimate_equi_join_rows
        a = SnapshotTable(os.path.join(tdir, "a"))
        b = SnapshotTable(os.path.join(tdir, "b"))
        a.write(spark.range(0, 100).select(F.col("id").alias("k")))
        b.write(spark.range(1000, 1100).select(F.col("id").alias("k")))
        a.analyze(spark, ["k"]); b.analyze(spark, ["k"])
        assert estimate_equi_join_rows(a.stats(), b.stats(), "k", "k") == 0

    def test_broadcast_decision_and_plan(self, spark, tdir):
        from iceberg_evolve_spark.operators.cbo import planned_table_join
        fact, dim = self._tables(spark, tdir)
        out, decision = planned_table_join(spark, fact, dim, "k", "k")
        assert decision["strategy"] == "broadcast"
        assert decision["build_side"] == "right"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert out.count() == 5000

    def test_shuffle_when_nothing_broadcastable(self, spark, tdir):
        from iceberg_evolve_spark.operators.cbo import planned_table_join
        fact, dim = self._tables(spark, tdir)
        out, decision = planned_table_join(
            spark, fact, dim, "k", "k", broadcast_bytes=1
        )
        assert decision["strategy"] == "shuffle"
        assert out.count() == 5000

    def test_salted_when_hot_key_reported(self, spark, tdir):
        from iceberg_evolve_spark.operators.cbo import planned_table_join
        fact, dim = self._tables(spark, tdir)
        # avg key rows = 5000/20 = 250; report a 100x hot key
        out, decision = planned_table_join(
            spark, fact, dim, "k", "k",
            broadcast_bytes=1, hot_key_rows=25000,
        )
        assert decision["strategy"] == "shuffle_salted"
        assert out.count() == 5000

    def test_strategies_agree_on_rows(self, spark, tdir):
        from iceberg_evolve_spark.operators.cbo import apply_join
        fact, dim = self._tables(spark, tdir)
        l, r = fact.read(spark), dim.read(spark)
        outs = [
            apply_join(l, r, {"strategy": "broadcast", "build_side": "right"}, "k", "k"),
            apply_join(l, r, {"strategy": "shuffle", "build_side": None}, "k", "k"),
            apply_join(l, r, {"strategy": "shuffle_salted", "build_side": None}, "k", "k"),
        ]
        rows = [
            sorted((x["fk"], x["k"], x["name"]) for x in o.select("fk", "k", "name").collect())
            for o in outs
        ]
        assert rows[0] == rows[1] == rows[2]

    def test_requires_stats(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshots import SnapshotTable
        from iceberg_evolve_spark.operators.cbo import planned_table_join
        a = SnapshotTable(os.path.join(tdir, "a"))
        b = SnapshotTable(os.path.join(tdir, "b"))
        a.write(spark.range(3).select(F.col("id").alias("k")))
        b.write(spark.range(3).select(F.col("id").alias("k")))
        with pytest.raises(LookupError, match="analyze"):
            planned_table_join(spark, a, b, "k", "k")


class TestRewriteDeleteFiles:
    """rewrite_position_delete_files analog: fold the pos/eq/vector delete
    stack into ONE deletion vector — zero data files written, manifests
    reused verbatim, read amplification back to one anti-join."""

    def test_fold_preserves_state_and_touches_no_data(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 60).withColumn("k", F.col("id") % 6))
        t.delete_where(spark, F.col("id") < 5)
        t.delete_by_key(spark.createDataFrame([(2,)], "k long"), ["k"])
        t.delete_where(spark, F.col("id") >= 55, vector=True)
        before = t.versions()[-1]
        files_before = set(t._entry_files(before))
        want = sorted(r["id"] for r in t.read(spark).collect())
        v = t.rewrite_delete_files(spark)
        cur = t.versions()[-1]
        assert v == cur["version"]
        assert [d["kind"] for d in cur["deletes"]] == ["dv"]
        assert cur["manifests"] == before["manifests"]  # no data commit
        assert set(t._entry_files(cur)) == files_before
        assert sorted(r["id"] for r in t.read(spark).collect()) == want
        # old versions still time-travel through their own delete stacks
        assert sorted(
            r["id"] for r in t.read(spark, version=before["version"]).collect()
        ) == want

    def test_eq_sequence_rule_survives_fold(self, spark, tdir):
        """Rows appended AFTER an equality delete must survive the fold
        (their positions were never hit by the seq-filtered eq delete)."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10).withColumn("k", F.col("id") % 2))
        t.delete_by_key(spark.createDataFrame([(1,)], "k long"), ["k"])
        t.append(
            spark.range(100, 104).withColumn("k", F.lit(1))
        )  # k=1 but newer sequence: survives
        want = sorted(r["id"] for r in t.read(spark).collect())
        assert want == [0, 2, 4, 6, 8, 100, 101, 102, 103]
        t.rewrite_delete_files(spark)
        assert sorted(r["id"] for r in t.read(spark).collect()) == want

    def test_noop_on_single_vector_or_empty(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        assert t.rewrite_delete_files(spark) is None
        t.delete_where(spark, F.col("id") < 2, vector=True)
        assert t.rewrite_delete_files(spark) is None

    def test_changelog_across_delete_rewrite(self, spark, tdir):
        """Net changes across a delete_rewrite commit stay exact: the fold
        itself contributes nothing; real deletes on either side do."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 30))
        v_from = t.delete_where(spark, F.col("id") < 3)
        t.delete_where(spark, F.col("id") >= 27)      # in-range real delete
        t.rewrite_delete_files(spark)                  # fold (net zero)
        v_to = t.delete_where(
            spark, F.col("id") == 15, vector=True
        )  # post-fold vector delete
        log = t.changes_between(spark, v_from, v_to)
        got = sorted((r["_change_type"], r["id"]) for r in log.collect())
        assert got == [
            ("delete", 15), ("delete", 27), ("delete", 28), ("delete", 29),
        ]

    def test_maintain_vector_mode(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 40).withColumn("k", F.col("id") % 4))
        for i in range(3):
            t.delete_where(spark, F.col("id") == i * 10)
        # below threshold: nothing
        assert t.maintain(spark, max_delete_files=4, delete_mode="vector") is None
        t.delete_where(spark, F.col("id") == 35)
        v = t.maintain(spark, max_delete_files=4, delete_mode="vector")
        assert v is not None
        cur = t.versions()[-1]
        assert [d["kind"] for d in cur["deletes"]] == ["dv"]
        assert cur.get("delete_rewrite")
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == [i for i in range(40) if i not in (0, 10, 20, 35)]


class TestStreamingVectorMaintenance:
    def test_vector_mode_stream_converges_without_data_rewrites(self, spark, tdir):
        """The vector-mode maintenance tier: a 20-batch CDC stream whose
        delete-pressure folds go to rewrite_delete_files (one deletion
        vector, zero data files rewritten) — the converged state is exact,
        the delete stack stays bounded, and NO commit in the log is a data
        rewrite (no `rewrite` stamps; only appends, deletes, and
        delete_rewrite folds)."""
        from iceberg_evolve_spark.streaming.sink import mor_cdc_batch_writer

        CDC_SCHEMA = "k long, val string, op string, ts_ms long"
        tbl = os.path.join(tdir, "t")
        writer = mor_cdc_batch_writer(
            spark, tbl, "k", max_delete_files=3, delete_mode="vector"
        )
        rng_state = 97
        state = {}
        ts = 0
        for b in range(20):
            rows = []
            for _ in range(5):
                rng_state = (rng_state * 48271) % (2**31 - 1)
                k = rng_state % 25
                ts += 1
                if k in state and rng_state % 4 == 0:
                    rows.append((k, None, "d", ts))
                    state.pop(k)
                else:
                    rows.append((k, f"v{ts}", "u" if k in state else "c", ts))
                    state[k] = f"v{ts}"
            writer(spark.createDataFrame(rows, CDC_SCHEMA), b)
        t = SnapshotTable(tbl)
        entries = t.versions()
        cur = entries[-1]
        assert len(cur.get("deletes", [])) <= 3
        assert any(e.get("delete_rewrite") for e in entries)
        assert not any(e.get("rewrite") for e in entries)  # zero data rewrites
        got = {(r["k"], r["val"]) for r in t.read(spark).collect()}
        assert got == set(state.items())


class TestMergeInto:
    """MERGE INTO with merge-on-read commits: <=1 equality-delete + <=1
    fast-append per merge, never a data-file rewrite."""

    def _seed(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshots import SnapshotTable
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(
            spark.createDataFrame(
                [(k, f"old{k}") for k in range(6)], "k long, val string"
            )
        )
        return t

    def test_upsert_update_plus_insert(self, spark, tdir):
        from iceberg_evolve_spark.operators.merge import merge_into
        t = self._seed(spark, tdir)
        src = spark.createDataFrame(
            [(2, "new2"), (4, "new4"), (10, "new10")], "k long, val string"
        )
        v = merge_into(spark, t, src, on="k")
        assert v == 3  # one delete commit + one append commit
        got = sorted((r["k"], r["val"]) for r in t.read(spark).collect())
        assert got == [
            (0, "old0"), (1, "old1"), (2, "new2"), (3, "old3"),
            (4, "new4"), (5, "old5"), (10, "new10"),
        ]
        # no data rewrite happened: lineage dir + manifests only grew
        assert not any(e.get("rewrite") for e in t.versions())

    def test_matched_delete_with_insert(self, spark, tdir):
        from iceberg_evolve_spark.operators.merge import merge_into
        t = self._seed(spark, tdir)
        src = spark.createDataFrame(
            [(1, "x"), (3, "x"), (20, "new20")], "k long, val string"
        )
        merge_into(
            spark, t, src, on="k",
            when_matched="delete", when_not_matched="insert",
        )
        got = sorted((r["k"], r["val"]) for r in t.read(spark).collect())
        assert got == [
            (0, "old0"), (2, "old2"), (4, "old4"), (5, "old5"),
            (20, "new20"),
        ]

    def test_update_only_ignores_unmatched(self, spark, tdir):
        from iceberg_evolve_spark.operators.merge import merge_into
        t = self._seed(spark, tdir)
        src = spark.createDataFrame(
            [(0, "upd0"), (99, "ghost")], "k long, val string"
        )
        merge_into(spark, t, src, on="k", when_not_matched=None)
        got = sorted((r["k"], r["val"]) for r in t.read(spark).collect())
        assert got == [
            (0, "upd0"), (1, "old1"), (2, "old2"), (3, "old3"),
            (4, "old4"), (5, "old5"),
        ]

    def test_insert_only_ignores_matched(self, spark, tdir):
        from iceberg_evolve_spark.operators.merge import merge_into
        t = self._seed(spark, tdir)
        src = spark.createDataFrame(
            [(0, "clobber"), (7, "new7")], "k long, val string"
        )
        merge_into(spark, t, src, on="k", when_matched=None)
        got = sorted((r["k"], r["val"]) for r in t.read(spark).collect())
        assert got == [
            (0, "old0"), (1, "old1"), (2, "old2"), (3, "old3"),
            (4, "old4"), (5, "old5"), (7, "new7"),
        ]

    def test_ambiguous_source_raises(self, spark, tdir):
        from iceberg_evolve_spark.operators.merge import merge_into
        t = self._seed(spark, tdir)
        src = spark.createDataFrame(
            [(2, "a"), (2, "b")], "k long, val string"
        )
        with pytest.raises(ValueError, match="ambiguous"):
            merge_into(spark, t, src, on="k")

    def test_merge_then_fold_composes(self, spark, tdir):
        """Repeated merges stack eq-delete files; the vector fold collapses
        them without touching the merged data."""
        from iceberg_evolve_spark.operators.merge import merge_into
        t = self._seed(spark, tdir)
        for i in range(3):
            src = spark.createDataFrame(
                [(i, f"gen{i}"), (100 + i, f"new{i}")], "k long, val string"
            )
            merge_into(spark, t, src, on="k")
        want = sorted((r["k"], r["val"]) for r in t.read(spark).collect())
        assert len(t.versions()[-1]["deletes"]) == 3
        t.rewrite_delete_files(spark)
        assert [d["kind"] for d in t.versions()[-1]["deletes"]] == ["dv"]
        got = sorted((r["k"], r["val"]) for r in t.read(spark).collect())
        assert got == want


class TestBloomFileSkipping:
    """Per-file Bloom filters: point-lookup file pruning where min/max
    bounds prune nothing (high-NDV keys, unsorted layout)."""

    def _table(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        # ids 0..799 spread round-robin over 8 files: every file's [min,max]
        # spans nearly the whole range, so RANGE pruning keeps all 8 files
        df = spark.range(0, 800).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        ).repartition(8)
        t.write(df)
        return t

    def test_bloom_prunes_where_ranges_cannot(self, spark, tdir):
        t = self._table(spark, tdir)
        t.analyze_bloom(spark, ["k"])
        # range plan: all files kept (overlapping bounds)
        kept_range, total = t.plan_scan(where={"k": (123, 123)})
        kept_bloom, _ = t.plan_scan(eq={"k": 123})
        assert total == 8
        assert len(kept_bloom) < len(kept_range)  # blooms strictly better
        got = t.read(spark, eq={"k": 123}).collect()
        assert len(got) == 1 and got[0]["k"] == 123

    def test_absent_value_prunes_everything(self, spark, tdir):
        t = self._table(spark, tdir)
        t.analyze_bloom(spark, ["k"])
        kept, _ = t.plan_scan(eq={"k": 99999})
        # m=32Ki bits over ~100 keys/file: absent key hits all-zero bits
        assert kept == []
        assert t.read(spark, eq={"k": 99999}).count() == 0

    def test_unanalyzed_column_is_conservative(self, spark, tdir):
        t = self._table(spark, tdir)
        kept, total = t.plan_scan(eq={"k": 5})
        assert len(kept) == total  # no blob -> no pruning, never wrong
        assert t.read(spark, eq={"k": 5}).count() == 1

    def test_appends_after_analysis_are_kept(self, spark, tdir):
        """Files the blob never saw must always be kept — an append after
        analyze_bloom would otherwise be silently unsearchable."""
        t = self._table(spark, tdir)
        t.analyze_bloom(spark, ["k"])
        t.append(spark.createDataFrame([(90001, 1)], "k long, g long"))
        got = t.read(spark, eq={"k": 90001}).collect()
        assert len(got) == 1
        kept, total = t.plan_scan(eq={"k": 90001})
        assert len(kept) >= 1  # the appended file survives the probe

    def test_string_keys_and_results_match_unpruned(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 300).select(
            F.concat(F.lit("user-"), F.col("id")).alias("u"),
            F.col("id").alias("n"),
        ).repartition(6)
        t.write(df)
        t.analyze_bloom(spark, ["u"])
        want = sorted(
            r["n"] for r in t.read(spark).filter(F.col("u") == "user-42").collect()
        )
        got = sorted(r["n"] for r in t.read(spark, eq={"u": "user-42"}).collect())
        assert got == want == [42]

    def test_retention_keeps_blobs_of_live_lineage(self, spark, tdir):
        t = self._table(spark, tdir)
        t.analyze_bloom(spark, ["k"])
        t.append(spark.createDataFrame([(90001, 1)], "k long, g long"))
        t.expire_snapshots(keep_last=1)
        # the lineage survives, so the blob still prunes: every covered
        # file is gone from the plan, only uncovered appended files remain
        kept, _ = t.plan_scan(eq={"k": 99999})
        assert all("s00002-" in os.path.basename(f) for f in kept)
        # a fresh write starts a new lineage: its retention drops the blob
        t.write(spark.createDataFrame([(1, 1)], "k long, g long"))
        _, removed = t.expire_snapshots(keep_last=1)
        assert any(r.startswith("_bloom/") for r in removed)


class TestRefsAndManifestsTables:
    """Iceberg's tbl.refs / tbl.manifests as metadata relations."""

    def test_refs_df(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(5), ts=100.0)
        t.append(spark.range(5, 8), ts=200.0)
        t.tag("release-1", 1)
        refs = {r["name"]: r for r in t.refs_df(spark).collect()}
        assert refs["main"]["type"] == "branch"
        assert refs["main"]["version"] == 2
        assert refs["main"]["ts"] == 200.0
        assert refs["release-1"]["type"] == "tag"
        assert refs["release-1"]["version"] == 1
        assert refs["release-1"]["ts"] == 100.0

    def test_manifests_df(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(10))
        t.append(spark.range(10, 15))
        rows = {r["manifest"]: r for r in t.manifests_df(spark).collect()}
        assert len(rows) == 2
        assert all(r["n_files"] >= 1 for r in rows.values())
        assert all(r["listed_bytes"] > 0 for r in rows.values())
        # v2 references both manifests, v1 only the first
        assert rows["m00001.json"]["referenced_by"] == 2
        assert rows["m00002.json"]["referenced_by"] == 1
        # after expiry, unreferenced manifests leave the relation
        t.expire_snapshots(keep_last=1)
        t2 = {r["manifest"] for r in t.manifests_df(spark).collect()}
        assert t2 == {"m00001.json", "m00002.json"}  # both still referenced by v2


class TestSnapshotStreamSource:
    """Structured Streaming tail of a snapshot table (Iceberg's streaming
    read): offsets = versions, micro-batches = manifest-attributed added
    files, per-file Arrow partitions, exactly-once by recomputation."""

    def _start(self, spark, tbl, out, ck, **opts):
        from iceberg_evolve_spark.sources.snapshot_stream import (
            SnapshotStreamDataSource,
        )
        try:
            spark.dataSource.register(SnapshotStreamDataSource)
        except Exception:
            pass  # already registered in this session
        r = spark.readStream.format("snapshot_stream").option("path", tbl)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load().writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    def test_backfill_then_incremental(self, spark, tdir):
        tbl = os.path.join(tdir, "t")
        out = os.path.join(tdir, "out")
        ck = os.path.join(tdir, "ck")
        t = SnapshotTable(tbl)
        t.write(spark.range(0, 10).withColumn("g", F.col("id") % 3))
        t.append(spark.range(100, 105).withColumn("g", F.col("id") % 3))
        self._start(spark, tbl, out, ck)
        got = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert got == list(range(10)) + list(range(100, 105))
        # restart with the same checkpoint: ONLY the new append arrives
        t.append(spark.range(200, 203).withColumn("g", F.lit(0).cast("long")))
        self._start(spark, tbl, out, ck)
        got = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert got == (
            list(range(10)) + list(range(100, 105)) + list(range(200, 203))
        )

    def test_non_append_commit_fails_stream(self, spark, tdir):
        tbl = os.path.join(tdir, "t")
        t = SnapshotTable(tbl)
        t.write(spark.range(0, 10))
        t.delete_where(spark, F.col("id") == 0)
        with pytest.raises(Exception, match="not a plain append"):
            self._start(
                spark, tbl,
                os.path.join(tdir, "out"), os.path.join(tdir, "ck"),
            )

    def test_skip_mode_streams_past_changes(self, spark, tdir):
        tbl = os.path.join(tdir, "t")
        t = SnapshotTable(tbl)
        t.write(spark.range(0, 10))
        t.delete_where(spark, F.col("id") == 0)
        t.append(spark.range(50, 52))
        self._start(
            spark, tbl,
            os.path.join(tdir, "out"), os.path.join(tdir, "ck"),
            on_change="skip",
        )
        got = sorted(
            r["id"]
            for r in spark.read.parquet(os.path.join(tdir, "out")).collect()
        )
        # bootstrap emits v1's files; the delete commit is skipped (no new
        # rows); the append lands — rows, not visibility, is the contract
        assert got == list(range(10)) + [50, 51]

    def test_expired_offset_detected(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshot_stream import _added_files
        tbl = os.path.join(tdir, "t")
        t = SnapshotTable(tbl)
        t.write(spark.range(3))
        for i in range(3):
            t.append(spark.range(10 + i, 11 + i))
        t.expire_snapshots(keep_last=1)
        with pytest.raises(ValueError, match="expired"):
            _added_files(tbl, 1, 4, "fail")

    def test_heterogeneous_generation_types_normalize(self, spark, tdir):
        """A column written int32 in one commit and int64 in another must
        stream under ONE declared schema (the cast-to-declared rule)."""
        tbl = os.path.join(tdir, "t")
        t = SnapshotTable(tbl)
        t.write(spark.range(0, 4).withColumn("g", F.col("id") % 2))
        t.append(
            spark.range(10, 12).withColumn("g", F.lit(7))
        )  # g: int32 here
        self._start(
            spark, tbl,
            os.path.join(tdir, "out"), os.path.join(tdir, "ck"),
        )
        rows = spark.read.parquet(os.path.join(tdir, "out"))
        got = sorted((r["id"], r["g"]) for r in rows.collect())
        assert got == [(0, 0), (1, 1), (2, 0), (3, 1), (10, 7), (11, 7)]


class TestBranches:
    """Writable branches (Iceberg's audit-branch / spark.wap.branch flow):
    commits land on the branch's own log, main never sees them until
    fast_forward; data files are shared, the branch costs one JSON file."""

    def test_branch_commits_isolated_from_main(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        b = t.create_branch("audit")
        b.append(spark.range(100, 103))
        b.delete_where(spark, F.col("id") < 2)
        # main unchanged
        assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(10))
        # branch sees its own state
        got = sorted(r["id"] for r in b.read(spark).collect())
        assert got == list(range(2, 10)) + [100, 101, 102]
        assert t.branches() == {"audit": 3}

    def test_fast_forward_publishes(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 5))
        b = t.create_branch("audit")
        b.append(spark.range(50, 52))
        v = t.fast_forward("audit")
        assert v == 2
        assert sorted(r["id"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 4, 50, 51]
        # time travel on main now resolves the branch-committed version
        assert t.read(spark, version=1).count() == 5
        t.drop_branch("audit")
        assert t.branches() == {}

    def test_diverged_main_refuses_fast_forward(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 5))
        b = t.create_branch("audit")
        b.append(spark.range(50, 52))
        t.append(spark.range(90, 91))  # main moves after the fork
        with pytest.raises(ValueError, match="diverged"):
            t.fast_forward("audit")
        # both histories remain intact and readable
        assert t.read(spark).count() == 6
        assert b.read(spark).count() == 7

    def test_retention_on_main_keeps_branch_files(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 5))
        b = t.create_branch("audit")
        b.append(spark.range(50, 55))
        t.append(spark.range(90, 92))
        t.append(spark.range(95, 97))
        t.expire_snapshots(keep_last=1)
        # the branch's appended rows survive main's retention
        got = sorted(r["id"] for r in b.read(spark).collect())
        assert got == list(range(5)) + list(range(50, 55))
        # dropping the branch releases its files on the next sweep
        t.drop_branch("audit")
        _, removed = t.expire_snapshots(keep_last=1)
        assert any("s00002-" in r for r in removed)

    def test_branch_guards(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(3))
        b = t.create_branch("audit")
        with pytest.raises(ValueError, match="new lineage"):
            b.write(spark.range(5))
        with pytest.raises(ValueError, match="main"):
            b.expire_snapshots(keep_last=1)
        with pytest.raises(ValueError, match="MAIN"):
            b.tag("nope")
        with pytest.raises(ValueError, match="already exists"):
            t.create_branch("audit")
        with pytest.raises(ValueError, match="invalid"):
            t.create_branch("main")

    def test_refs_df_lists_branches(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(3), ts=100.0)
        b = t.create_branch("audit")
        b.append(spark.range(5, 7), ts=200.0)
        refs = {r["name"]: r for r in t.refs_df(spark).collect()}
        assert refs["audit"]["type"] == "branch"
        assert refs["audit"]["version"] == 2
        assert refs["audit"]["ts"] == 200.0

    def test_branch_full_toolkit(self, spark, tdir):
        """The MOR toolkit works on a branch: merge_into, vector deletes,
        fold, changelog."""
        from iceberg_evolve_spark.operators.merge import merge_into
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.createDataFrame([(k, f"v{k}") for k in range(6)], "k long, val string"))
        b = t.create_branch("fix")
        merge_into(spark, b, spark.createDataFrame([(2, "fixed"), (9, "new")], "k long, val string"), on="k")
        b.delete_where(spark, F.col("k") == 0, vector=True)
        b.rewrite_delete_files(spark)
        got = sorted((r["k"], r["val"]) for r in b.read(spark).collect())
        assert got == [(1, "v1"), (2, "fixed"), (3, "v3"), (4, "v4"), (5, "v5"), (9, "new")]
        v = t.fast_forward("fix")
        assert sorted((r["k"], r["val"]) for r in t.read(spark).collect()) == got
        log = t.changes_between(spark, 1, v, allow_rewrite_boundary=True)
        assert log.count() > 0

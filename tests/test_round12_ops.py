"""Round-12 storage-plane work: the lock-free commit plane (per-version
commit files published by atomic link — VERDICT r11 task 5), cherry-pick
hardening (main-side equality-delete sequence hazard, retention-trimmed
fork detection — ADVICE r11 high/low), and bloom-probe robustness
(ADVICE r11 medium/low).

Reference parity anchor: the reference (anatol-ju/iceberg-evolve) has no
data plane — these extend the rebuild's storage layer beyond it
(SURVEY.md §2.2 mandate)."""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.sources.snapshots import (
    CommitConflict,
    SnapshotTable,
    _LinkRaced,
)


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path)


def _meta_entry(t: SnapshotTable, head: dict, note: str) -> dict:
    """A minimal metadata-only commit entry on top of ``head`` (an empty
    append), for commit-plane tests that need no Spark job."""
    mname = t._write_manifest_file(head["version"] + 1, [])
    return {
        "version": head["version"] + 1,
        "data_dir": head["data_dir"],
        "manifests": head["manifests"] + [mname],
        "base_seq": head.get("base_seq", head["version"]),
        "ts": 1.0,
        "note": note,
    }


def _mp_commit(args) -> int:
    """Child-process worker: one metadata commit through the public CAS
    path. Module-level for picklability under the spawn start method."""
    path, key = args
    t = SnapshotTable(path)

    def _build(fresh):
        return _meta_entry(t, fresh[-1], f"proc-{key}")

    return t._commit_build(_build)


class TestLockFreeCommitPlane:
    """VERDICT r11 task 5: the snapshot log is checkpoint + per-version
    commit files, each published with os.link — one winner per version by
    hardlink atomicity, no lock file, no steal heuristic."""

    def test_two_process_conflict_all_commits_survive(self, spark, tdir):
        """The done-criterion two-PROCESS (not just threaded) race: N
        processes hammer the CAS concurrently; every commit lands, the
        log is contiguous, nothing is clobbered."""
        path = os.path.join(tdir, "t")
        SnapshotTable(path).write(spark.range(0, 5))
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(6) as pool:
            got = pool.map(_mp_commit, [(path, i) for i in range(12)])
        assert sorted(got) == list(range(2, 14))  # every version distinct
        entries = SnapshotTable(path).versions()
        assert [e["version"] for e in entries] == list(range(1, 14))
        notes = {e["note"] for e in entries[1:]}
        assert notes == {f"proc-{i}" for i in range(12)}

    def test_paused_writer_never_clobbers_and_never_steals(self, spark, tdir):
        """No lock exists to steal: a writer that computed its entry, then
        stalled while another writer committed, simply loses the link race
        and recomputes — the winner's commit is never replaced. (Under the
        r11 lock, a >30s pause let a thief steal the lock and the waking
        holder's replace clobbered the thief's commit.)"""
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))
        attempts = []

        def _build(fresh):
            attempts.append(fresh[-1]["version"])
            if len(attempts) == 1:
                # the "pause": a concurrent writer commits AFTER this
                # builder read the log but BEFORE it publishes
                SnapshotTable(path).append(spark.range(10, 13))
            return _meta_entry(t, fresh[-1], "paused-writer")

        assert t._commit_build(_build) == 3
        assert attempts == [1, 2]  # lost the race once, recomputed
        entries = t.versions()
        assert [e["version"] for e in entries] == [1, 2, 3]
        assert entries[1]["note"] == "append"  # the winner survived
        assert t.read(spark).count() == 8
        assert not any(".lock" in n for n in os.listdir(path))

    def test_direct_link_of_taken_version_races(self, spark, tdir):
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))
        stale_head = t.versions()[-1]
        entry = _meta_entry(t, stale_head, "loser")
        t.append(spark.range(5, 8))  # takes v2 first
        with pytest.raises(_LinkRaced):
            t._link_commit(entry)

    def test_commit_files_are_complete_json_and_tmps_cleaned(
        self, spark, tdir
    ):
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))
        t.append(spark.range(5, 8))
        names = os.listdir(path)
        cfiles = [n for n in names if n.endswith(".commit.json")]
        assert sorted(cfiles) == ["c00001.commit.json", "c00002.commit.json"]
        for n in cfiles:
            with open(os.path.join(path, n)) as fh:
                e = json.load(fh)  # never torn: linked only when complete
            assert int(n[1:6]) == e["version"]
        assert not any(".tmp-" in n for n in names)

    def test_expire_folds_tail_into_checkpoint(self, spark, tdir):
        """Retention bounds the commit tail: after expire the checkpoint
        holds the whole retained log and covered commit files are swept;
        commits keep landing on top."""
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))
        for i in range(3):
            t.append(spark.range(10 * (i + 1), 10 * (i + 1) + 3))
        pre = t.versions()
        t.expire_snapshots(keep_last=10)  # nothing expires; still folds
        assert t.versions() == pre
        assert not [
            n for n in os.listdir(path) if n.endswith(".commit.json")
        ]
        with open(os.path.join(path, "_snapshots.json")) as fh:
            assert json.load(fh) == pre
        t.append(spark.range(100, 103))  # the tail restarts above the fold
        assert [e["version"] for e in t.versions()] == [1, 2, 3, 4, 5]
        assert t.read(spark).count() == 5 + 9 + 3

    def test_commit_racing_checkpoint_fold_survives(self, spark, tdir):
        """_install_checkpoint never shadows a version it does not
        contain: a commit landing between the fold's read and its
        checkpoint write stays visible."""
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))
        t.append(spark.range(5, 8))
        retained = t.versions()
        t.append(spark.range(8, 11))  # races "after" the retention read
        t._install_checkpoint(retained)  # folds only v1..v2
        assert [e["version"] for e in t.versions()] == [1, 2, 3]
        assert t.read(spark).count() == 11

    def test_stale_commit_file_below_checkpoint_is_inert_and_swept(
        self, spark, tdir
    ):
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))
        t.append(spark.range(5, 8))
        entries = t.versions()
        t._install_checkpoint(entries)
        # crash leftover: a commit file the checkpoint already covers
        stale = dict(entries[-1], note="stale-duplicate")
        with open(t._commit_file(2), "w") as fh:
            json.dump(stale, fh)
        assert t.versions() == entries  # tail reads only ABOVE the head
        t.expire_snapshots(keep_last=10)
        assert not os.path.exists(t._commit_file(2))

    def test_dropped_branch_commit_files_cleared(self, spark, tdir):
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))
        b = t.create_branch("audit")
        b.append(spark.range(10, 13))
        assert os.path.exists(
            os.path.join(path, "c00002-audit.commit.json")
        )
        t.drop_branch("audit")
        assert not [
            n for n in os.listdir(path) if n.endswith("-audit.commit.json")
        ]
        # a fresh branch of the same name starts at ITS fork, not the
        # dead branch's tail
        b2 = t.create_branch("audit")
        assert [e["version"] for e in b2.versions()] == [1]


class TestCherryPickHardening:
    """ADVICE r11 high + low: main-side equality deletes sequenced past
    picked appends must refuse (silent row loss otherwise), and the fork
    point must survive retention trimming main's old entries."""

    def test_refuses_main_eq_delete_over_picked_appends(self, spark, tdir):
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 10))  # v1
        b = t.create_branch("audit")
        b.append(spark.range(100, 105))  # branch v2: files stamped s00002-
        t.append(spark.range(50, 55))  # main v2
        # main v3: eq delete with seq 3 > the picked files' stamp 2 — at
        # read time `_seq < dseq` would erase the picked rows
        t.delete_by_key(
            spark.range(100, 105).select("id"), ["id"]
        )
        with pytest.raises(CommitConflict, match="equality delete"):
            t.cherry_pick("audit")
        # nothing landed: main unchanged
        assert [e["version"] for e in t.versions()] == [1, 2, 3]

    def test_allows_main_eq_delete_below_picked_stamp(self, spark, tdir):
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 10))  # v1
        t.delete_by_key(spark.range(3, 5).select("id"), ["id"])  # v2 seq2
        b = t.create_branch("audit")
        b.append(spark.range(100, 105))  # branch v3: stamp 3 > seq 2
        t.append(spark.range(50, 55))  # main diverges (v3)
        t.cherry_pick("audit")
        got = {r["id"] for r in t.read(spark).collect()}
        assert set(range(100, 105)) <= got  # picked rows survive
        assert {3, 4}.isdisjoint(got)  # the old delete still applies

    def test_fork_survives_retention_trimming_main(self, spark, tdir):
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))  # v1
        t.append(spark.range(5, 8))  # v2
        b = t.create_branch("audit")  # fork at v2
        b.append(spark.range(100, 103))  # branch v3'
        t.append(spark.range(8, 11))  # main v3 (diverged)
        t.expire_snapshots(keep_last=2)  # main drops v1; branch pins it
        assert [e["version"] for e in t.versions()] == [2, 3]
        v = t.cherry_pick("audit")  # fork found by version alignment
        assert v == 4
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(11)) + list(range(100, 103))

    def test_repick_is_idempotent_no_duplicate_files(self, spark, tdir):
        """Re-running a cherry-pick (e.g. after a mid-sequence conflict
        was resolved) dedups against the fresh head instead of
        double-listing the picked manifests."""
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 5))
        b = t.create_branch("audit")
        b.append(spark.range(100, 103))
        t.append(spark.range(50, 53))
        v1 = t.cherry_pick("audit")
        v2 = t.cherry_pick("audit")  # no-op: payload already on main
        assert v2 == v1
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(5)) + list(range(50, 53)) + list(
            range(100, 103)
        )


class TestBloomProbeRobustness:
    """ADVICE r11 medium + low: a bloom probe may only ever PRUNE — an
    unreadable or legacy-format filter keeps every candidate file; and
    re-analysis never rewrites the words a concurrent probe is reading."""

    def _table(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(
            spark.range(0, 800).select(F.col("id").alias("k")).repartition(8)
        )
        return t

    def test_legacy_blob_without_words_keeps_all(self, spark, tdir):
        t = self._table(spark, tdir)
        t.analyze_bloom(spark, ["k"])
        bp = t._bloom_path(1, "k")
        with open(bp) as fh:
            blob = json.load(fh)
        blob.pop("words")  # pre-r11 monolithic shape
        with open(bp, "w") as fh:
            json.dump(blob, fh)
        kept, total = t.plan_scan(eq={"k": 4})
        assert len(kept) == total == 8  # conservative, no crash

    def test_missing_words_dir_keeps_all(self, spark, tdir):
        t = self._table(spark, tdir)
        blob = t.analyze_bloom(spark, ["k"])["k"]
        shutil.rmtree(os.path.join(t.path, "_bloom", blob["words"]))
        kept, total = t.plan_scan(eq={"k": 4})
        assert len(kept) == total == 8
        # and the read built on the plan still answers correctly
        assert t.read(spark, eq={"k": 4}).count() == 1

    def test_reanalyze_swaps_words_atomically(self, spark, tdir):
        t = self._table(spark, tdir)
        w1 = t.analyze_bloom(spark, ["k"])["k"]["words"]
        w2 = t.analyze_bloom(spark, ["k"])["k"]["words"]
        assert w1 != w2  # never overwrite a live sidecar in place
        # the superseded dir is still intact for in-flight probes...
        assert os.path.isdir(os.path.join(t.path, "_bloom", w1))
        kept, _ = t.plan_scan(eq={"k": 99999})
        assert kept == []  # fresh blob probes fine
        # ...and retention reclaims it once unreferenced
        t.expire_snapshots(keep_last=10)
        assert not os.path.isdir(os.path.join(t.path, "_bloom", w1))
        assert os.path.isdir(os.path.join(t.path, "_bloom", w2))


class TestSchemaEvolutionCommit:
    """VERDICT r11 task 1 (What's missing 1): schema evolution as a
    snapshot-layer METADATA-ONLY commit — per-snapshot schema in the log,
    evolve_schema() touching no data files, reads resolving historical
    file generations by field id. Composes the reference's core operation
    (iceberg_evolve/schema.py:152-283 — evolve as a catalog metadata
    change) with the engine's own storage plane."""

    def _mk(self, spark, tdir, name="t"):
        t = SnapshotTable(os.path.join(tdir, name))
        df = spark.range(0, 10).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("val"),
        )
        t.write(df, track_schema=True)
        t.append(df)
        return t

    @staticmethod
    def _evolved(t):
        """rename val->value, widen k int->long, add note with default."""
        import copy

        from iceberg_evolve_spark.schema import Schema

        j = copy.deepcopy(t.table_schema().to_json())
        for f in j["fields"]:
            if f["name"] == "val":
                f["name"] = "value"
            if f["name"] == "k":
                f["type"] = "long"
        j["fields"].append(
            {
                "id": 99,
                "name": "note",
                "type": "string",
                "required": False,
                "initial-default": "x",
            }
        )
        return Schema.from_json(j)

    @staticmethod
    def _data_file_state(t):
        import glob

        return sorted(
            (p, os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(
                os.path.join(t.path, "v*", "**", "*.parquet"),
                recursive=True,
            )
        )

    def test_evolve_is_metadata_only_zero_rewrite(self, spark, tdir):
        t = self._mk(spark, tdir)
        before = self._data_file_state(t)
        v = t.evolve_schema(self._evolved(t))
        assert v == 3
        assert self._data_file_state(t) == before  # byte-identical file set
        head = t.versions()[-1]
        assert head["schema_evolution"] == {"from": 0, "to": 1}
        assert head["manifests"] == t.versions()[-2]["manifests"]

    def test_reads_resolve_generations_by_field_id(self, spark, tdir):
        t = self._mk(spark, tdir)
        t.evolve_schema(self._evolved(t))
        # post-evolve append under the NEW schema
        t.append(
            spark.range(100, 103).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).cast("int").alias("value"),
                F.lit("y").alias("note"),
            )
        )
        out = t.read(spark)
        assert out.schema.simpleString() == (
            "struct<k:bigint,value:int,note:string>"
        )
        rows = sorted(
            (r["k"], r["value"], r["note"]) for r in out.collect()
        )
        assert len(rows) == 23
        assert (0, 0, "x") in rows  # old generation: renamed + default
        assert (100, 200, "y") in rows  # new generation passthrough

    def test_time_travel_reads_old_schema(self, spark, tdir):
        t = self._mk(spark, tdir)
        t.evolve_schema(self._evolved(t))
        old = t.read(spark, version=2)
        assert old.schema.simpleString() == "struct<k:int,val:int>"
        assert old.count() == 20

    def test_drifted_append_refused_by_name_and_type(self, spark, tdir):
        t = self._mk(spark, tdir)
        with pytest.raises(ValueError, match="drifts"):
            t.append(spark.range(3).select(F.col("id").alias("wrong")))
        with pytest.raises(ValueError, match="drifts"):
            # right names, wrong type (k long in an int table)
            t.append(
                spark.range(3).select(
                    F.col("id").alias("k"),
                    (F.col("id") * 2).cast("int").alias("val"),
                )
            )

    def test_mor_deletes_and_compaction_across_generations(self, spark, tdir):
        t = self._mk(spark, tdir)
        t.evolve_schema(self._evolved(t))
        t.append(
            spark.range(100, 103).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).cast("int").alias("value"),
                F.lit("y").alias("note"),
            )
        )
        t.delete_where(spark, F.col("value") == 4)  # 2 old-gen rows
        t.delete_by_key(spark.range(100, 101).select("id").toDF("k"), ["k"])
        assert t.read(spark).count() == 23 - 2 - 1
        t.rewrite_data_files(spark)
        assert t.read(spark).count() == 20
        # compaction keeps per-generation manifests for carried files
        ms = t.versions()[-1]["manifest_schemas"]
        assert set(ms.values()) <= {0, 1}
        assert t.read(spark).schema.simpleString() == (
            "struct<k:bigint,value:int,note:string>"
        )

    def test_concurrent_evolve_conflicts(self, spark, tdir):
        t = self._mk(spark, tdir)
        new = self._evolved(t)

        class Racy(SnapshotTable):
            raced = False

            def _commit_build(self, build):
                if not Racy.raced:
                    Racy.raced = True
                    other = SnapshotTable(self.path)
                    TestSchemaEvolutionCommit._race_evolve(other)
                return super()._commit_build(build)

        with pytest.raises(CommitConflict):
            Racy(t.path).evolve_schema(new)

    @staticmethod
    def _race_evolve(t):
        import copy

        from iceberg_evolve_spark.schema import Schema

        j = copy.deepcopy(t.table_schema().to_json())
        j["fields"].append(
            {"id": 50, "name": "extra", "type": "string", "required": False}
        )
        t.evolve_schema(Schema.from_json(j))

    def test_inflight_append_conflicts_with_landed_evolve(self, spark, tdir):
        """An append whose batch was validated against the OLD schema must
        not compose past an evolve that landed meanwhile — its files would
        be stamped with the new generation they were not written under."""
        t = self._mk(spark, tdir)
        new = self._evolved(t)
        df = spark.range(200, 203).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("val"),
        )

        class Racy(SnapshotTable):
            raced = False

            def _commit_build(self, build):
                if not Racy.raced:
                    Racy.raced = True
                    SnapshotTable(self.path).evolve_schema(new)
                return super()._commit_build(build)

        with pytest.raises(CommitConflict):
            Racy(t.path).append(df)

    def test_branch_scoped_evolution(self, spark, tdir):
        t = self._mk(spark, tdir)
        b = t.create_branch("audit")
        b.evolve_schema(self._evolved(b))
        assert b.table_schema().to_json() != t.table_schema().to_json()
        assert b.read(spark).schema.simpleString() == (
            "struct<k:bigint,value:int,note:string>"
        )
        assert t.read(spark).schema.simpleString() == "struct<k:int,val:int>"
        # cherry-picking a schema evolution refuses loudly
        t.append(
            spark.range(300, 302).select(
                F.col("id").cast("int").alias("k"),
                (F.col("id") * 2).cast("int").alias("val"),
            )
        )
        with pytest.raises(CommitConflict, match="schema evolution"):
            t.cherry_pick("audit")

    def test_storage_plane_gates(self, spark, tdir):
        import copy

        from iceberg_evolve_spark.schema import Schema

        t = SnapshotTable(os.path.join(tdir, "p"))
        df = spark.range(0, 10).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 3).cast("int").alias("bucket"),
        )
        t.write(df, track_schema=True, partition_by=["bucket"])
        j = copy.deepcopy(t.table_schema().to_json())
        for f in j["fields"]:
            if f["name"] == "bucket":
                f["name"] = "pt"
        with pytest.raises(ValueError, match="partition column"):
            t.evolve_schema(Schema.from_json(j))
        # live equality-delete key column
        t2 = self._mk(spark, tdir, "q")
        t2.delete_by_key(spark.range(1, 2).select("id").toDF("k"), ["k"])
        j2 = copy.deepcopy(t2.table_schema().to_json())
        for f in j2["fields"]:
            if f["name"] == "k":
                f["name"] = "key"
        with pytest.raises(CommitConflict, match="equality-delete"):
            t2.evolve_schema(Schema.from_json(j2))
        # breaking ops gated exactly like the parity evolve()
        j3 = copy.deepcopy(t2.table_schema().to_json())
        j3["fields"] = [f for f in j3["fields"] if f["name"] != "val"]
        with pytest.raises(ValueError, match="[Bb]reaking"):
            t2.evolve_schema(Schema.from_json(j3))
        assert t2.evolve_schema(
            Schema.from_json(j3), allow_breaking=True
        ) > 0

    def test_changelog_surfaces_schema_drift(self, spark, tdir):
        t = self._mk(spark, tdir)
        v_before = t.versions()[-1]["version"]
        t.evolve_schema(self._evolved(t))
        t.append(
            spark.range(100, 103).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).cast("int").alias("value"),
                F.lit("y").alias("note"),
            )
        )
        v_after = t.versions()[-1]["version"]
        with pytest.raises(ValueError, match="schema evolution"):
            t.changes_between(spark, v_before, v_after)
        # opt-in value-level diff projects the from side forward
        diff = t.changes_between(
            spark, v_before, v_after, allow_rewrite_boundary=True
        )
        ins = diff.filter(F.col("_change_type") == "insert")
        assert ins.count() == 3
        assert "note" in diff.columns


class TestStreamTailSchemaDrift:
    """VERDICT r11 task 6: a tail across an evolve_schema commit either
    refuses loudly in fail mode or (on_schema_change='project') delivers
    drifted generations projected to the stream's pinned schema by field
    id — never silent mis-shaped rows."""

    def _start(self, spark, tbl, out, ck, **opts):
        from iceberg_evolve_spark.sources.snapshot_stream import (
            SnapshotStreamDataSource,
        )

        try:
            spark.dataSource.register(SnapshotStreamDataSource)
        except Exception:
            pass
        r = spark.readStream.format("snapshot_stream").option("path", tbl)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def _evolved_table(self, spark, tdir):
        import copy

        from iceberg_evolve_spark.schema import Schema

        t = SnapshotTable(os.path.join(tdir, "t"))
        df = spark.range(0, 6).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("val"),
        )
        t.write(df, track_schema=True)
        j = copy.deepcopy(t.table_schema().to_json())
        for f in j["fields"]:
            if f["name"] == "val":
                f["name"] = "value"
        t.evolve_schema(Schema.from_json(j))
        t.append(
            spark.range(100, 103).select(
                F.col("id").cast("int").alias("k"),
                (F.col("id") * 2).cast("int").alias("value"),
            )
        )
        return t

    def test_declared_schema_is_the_tracked_current(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshot_stream import (
            SnapshotStreamDataSource,
        )

        t = self._evolved_table(spark, tdir)
        try:
            spark.dataSource.register(SnapshotStreamDataSource)
        except Exception:
            pass
        st = (
            spark.readStream.format("snapshot_stream")
            .option("path", t.path)
            .load()
            .schema
        )
        assert [f.name for f in st.fields] == ["k", "value"]

    def test_fail_mode_refuses_drifted_generation(self, spark, tdir):
        t = self._evolved_table(spark, tdir)
        with pytest.raises(Exception, match="schema id"):
            self._start(
                spark,
                t.path,
                os.path.join(tdir, "o"),
                os.path.join(tdir, "c"),
            )

    def test_project_mode_delivers_under_pinned_schema(self, spark, tdir):
        t = self._evolved_table(spark, tdir)
        out, ck = os.path.join(tdir, "o"), os.path.join(tdir, "c")
        self._start(spark, t.path, out, ck, on_schema_change="project")
        got = spark.read.parquet(out)
        assert set(got.columns) == {"k", "value"}
        rows = sorted((r["k"], r["value"]) for r in got.collect())
        assert rows == [(i, 2 * i) for i in range(6)] + [
            (i, 2 * i) for i in range(100, 103)
        ]
        # incremental continuation under the same checkpoint stays exact
        t.append(
            spark.range(200, 202).select(
                F.col("id").cast("int").alias("k"),
                (F.col("id") * 2).cast("int").alias("value"),
            )
        )
        self._start(spark, t.path, out, ck, on_schema_change="project")
        assert spark.read.parquet(out).count() == 11


class TestSchemaEvolutionGuards:
    """Self-review pins (round 12): field-id discipline the read-side
    generation resolution depends on."""

    def test_match_by_name_refused(self, spark, tdir):
        t = TestSchemaEvolutionCommit()._mk(spark, tdir)
        new = TestSchemaEvolutionCommit._evolved(t)
        with pytest.raises(NotImplementedError, match="field id"):
            t.evolve_schema(new, match_by="name")

    def test_retired_id_reuse_refused(self, spark, tdir):
        """Adding a field under a dropped field's id would resurrect the
        dropped field's historical data at read time — Iceberg's
        no-id-reuse rule, enforced against EVERY retained generation."""
        import copy

        from iceberg_evolve_spark.schema import Schema

        t = TestSchemaEvolutionCommit()._mk(spark, tdir)
        j = copy.deepcopy(t.table_schema().to_json())
        val_id = next(f["id"] for f in j["fields"] if f["name"] == "val")
        j["fields"] = [f for f in j["fields"] if f["name"] != "val"]
        t.evolve_schema(Schema.from_json(j), allow_breaking=True)  # drop
        j2 = copy.deepcopy(t.table_schema().to_json())
        j2["fields"].append(
            {"id": val_id, "name": "fresh", "type": "int", "required": False}
        )
        with pytest.raises(ValueError, match="retired field id"):
            t.evolve_schema(Schema.from_json(j2))
        # a genuinely fresh id is fine
        j2["fields"][-1]["id"] = 7777
        assert t.evolve_schema(Schema.from_json(j2)) > 0

    def test_full_rewrite_carries_tracking(self, spark, tdir):
        t = TestSchemaEvolutionCommit()._mk(spark, tdir)
        t.evolve_schema(TestSchemaEvolutionCommit._evolved(t))
        t.rewrite_data_files(spark, scope="all")
        s = t.table_schema()
        assert s is not None
        assert {f.name for f in s.fields} == {"k", "value", "note"}
        # the fresh lineage is single-generation: evolution keeps working
        import copy

        from iceberg_evolve_spark.schema import Schema

        j = copy.deepcopy(s.to_json())
        j["fields"].append(
            {"id": 555, "name": "tag", "type": "string", "required": False}
        )
        assert t.evolve_schema(Schema.from_json(j)) > 0
        assert t.read(spark).count() == 20


class TestCliEvolveTable:
    """Round-12 CLI composition: `evolve-table` points the parity evolve
    flow (C2) at the engine's own storage layer — diff + gates + ONE
    metadata commit, no Spark session needed for the commit itself."""

    def _tracked_table(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(
            spark.range(0, 8).select(
                F.col("id").cast("int").alias("k"),
                (F.col("id") * 2).cast("int").alias("val"),
            ),
            track_schema=True,
        )
        return t

    def _target_json(self, t, tdir):
        import copy

        j = copy.deepcopy(t.table_schema().to_json())
        for f in j["fields"]:
            if f["name"] == "val":
                f["name"] = "value"
        path = os.path.join(tdir, "new.json")
        with open(path, "w") as fh:
            json.dump(j, fh)
        return path

    def test_dry_run_then_commit(self, spark, tdir, capsys):
        from iceberg_evolve_spark.cli import main

        t = self._tracked_table(spark, tdir)
        target = self._target_json(t, tdir)
        assert main(
            ["evolve-table", "-d", t.path, "-p", target, "--dry-run",
             "--json"]
        ) == 0
        ops = json.loads(capsys.readouterr().out)
        assert [o["op"] for o in ops] == ["rename_column"]
        assert [e["version"] for e in t.versions()] == [1]  # dry: no commit
        assert main(
            ["evolve-table", "-d", t.path, "-p", target, "--quiet"]
        ) == 0
        assert "metadata-only" in capsys.readouterr().out
        assert t.versions()[-1]["schema_evolution"] == {"from": 0, "to": 1}
        assert {f.name for f in t.table_schema().fields} == {"k", "value"}
        # no-op re-run commits nothing
        assert main(
            ["evolve-table", "-d", t.path, "-p", target, "--quiet"]
        ) == 0
        assert "nothing committed" in capsys.readouterr().out

    def test_untracked_table_errors(self, spark, tdir, capsys):
        from iceberg_evolve_spark.cli import main

        t = SnapshotTable(os.path.join(tdir, "u"))
        t.write(spark.range(3))
        target = os.path.join(tdir, "any.json")
        with open(target, "w") as fh:
            json.dump({"type": "struct", "fields": []}, fh)
        assert main(["evolve-table", "-d", t.path, "-p", target]) == 2
        assert "not schema-tracked" in capsys.readouterr().err


class TestCommitPlaneChaos:
    """Mixed-op concurrency on the lock-free plane: appends and equality
    deletes from racing threads all land, the log stays contiguous, and
    the converged state is exact."""

    def test_concurrent_mixed_ops_converge(self, spark, tdir):
        import threading

        path = os.path.join(tdir, "t")
        SnapshotTable(path).write(spark.range(0, 100))
        errs: list[Exception] = []
        barrier = threading.Barrier(4)

        def appender(base):
            try:
                barrier.wait()
                for i in range(3):
                    SnapshotTable(path).append(
                        spark.range(base + i * 10, base + i * 10 + 10)
                    )
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        def deleter():
            try:
                barrier.wait()
                for k in (5, 6, 7):
                    SnapshotTable(path).delete_by_key(
                        spark.range(k, k + 1).select("id"), ["id"]
                    )
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        threads = [
            threading.Thread(target=appender, args=(b,))
            for b in (1000, 2000, 3000)
        ] + [threading.Thread(target=deleter)]
        [th.start() for th in threads]
        [th.join(300) for th in threads]
        assert not errs, errs
        t = SnapshotTable(path)
        assert [e["version"] for e in t.versions()] == list(range(1, 14))
        got = {r["id"] for r in t.read(spark).collect()}
        expect = set(range(100)) - {5, 6, 7}
        for b in (1000, 2000, 3000):
            expect |= set(range(b, b + 30))
        assert got == expect
        # and retention folds the whole raced tail cleanly
        t.expire_snapshots(keep_last=13)
        assert {r["id"] for r in t.read(spark).collect()} == expect


class TestGenerationAwarePruning:
    """Round-12 follow-through: footer pruning translates range bounds to
    each generation's PHYSICAL column names by field id (a renamed sort
    column must not de-prune historical files), and a generation that
    predates a bounded column prunes entirely when its default cannot
    satisfy the range."""

    def _evolved_sorted(self, spark, tdir):
        import copy

        from iceberg_evolve_spark.schema import Schema

        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(
            spark.range(0, 50000).select(
                F.col("id").cast("int").alias("k"),
                (F.col("id") * 2).cast("int").alias("val"),
            ),
            track_schema=True,
            sort_by=["k"],
            sort_files=8,
        )
        j = copy.deepcopy(t.table_schema().to_json())
        for f in j["fields"]:
            if f["name"] == "val":
                f["name"] = "value"
            if f["name"] == "k":
                f["type"] = "long"
                f["name"] = "key"  # rename + widen the SORT column
        j["fields"].append(
            {
                "id": 99,
                "name": "score",
                "type": "int",
                "required": False,
                "initial-default": 7,
            }
        )
        t.evolve_schema(Schema.from_json(j))
        t.append(
            spark.range(100000, 150000).select(
                F.col("id").alias("key"),
                (F.col("id") * 2).cast("int").alias("value"),
                F.lit(1).cast("int").alias("score"),
            )
        )
        return t

    def test_sort_column_rename_keeps_pruning(self, spark, tdir):
        t = self._evolved_sorted(spark, tdir)
        assert t.versions()[-1]["sort_by"] == ["key"]  # order re-pointed
        kept, total = t.plan_scan(where={"key": (10, 20)})
        assert total == 9 and len(kept) <= 2  # old gen pruned via 'k'
        assert t.read(spark, where={"key": (10, 20)}).count() == 11
        # and the residual predicate pushes through the rename projection
        plan = (
            t.read(spark, where={"key": (10, 20)})
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "GreaterThanOrEqual(k,10)" in plan  # pushed to the OLD name

    def test_predating_generation_prunes_by_default(self, spark, tdir):
        t = self._evolved_sorted(spark, tdir)
        # old generation surfaces score=7 on every row: a (0, 5) range can
        # provably match nothing there — the whole generation prunes
        kept, total = t.plan_scan(where={"score": (0, 5)})
        assert total == 9 and len(kept) == 1  # only the new-gen file
        assert t.read(spark, where={"score": (0, 5)}).count() == 50000
        # in-range default keeps the generation (no pruning power)
        kept7, _ = t.plan_scan(where={"score": (6, 8)})
        # old 8 kept (default in range); the new-gen file's own footer
        # stats (score=1 everywhere) prune it — both rules compose
        assert len(kept7) == 8
        assert t.read(spark, where={"score": (6, 8)}).count() == 50000

"""Round-11 additions: streaming-tail exactly-once under retention,
structural delete detection, nested-schema tails, distributed Bloom
sidecars, CAS commit guard, branch cherry-pick, and CBO join hardening.

Reference parity anchor: the reference (anatol-ju/iceberg-evolve) has no
data plane — these extend the rebuild's storage/streaming layer beyond it
(SURVEY.md §2.2 mandate)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path)


class TestStreamTailExactlyOnceUnderRetention:
    """ADVICE r10 (high): _added_files must never re-deliver rows a
    checkpointed consumer already has — neither at the retention boundary
    (offset == oldest-1) nor across expiry gaps left by tagged snapshots."""

    def _files(self, tbl, start_v, end_v, mode="fail"):
        from iceberg_evolve_spark.sources.snapshot_stream import _added_files

        return _added_files(tbl, start_v, end_v, mode)

    def _table(self, spark, tdir, n_appends=3):
        tbl = os.path.join(tdir, "t")
        t = SnapshotTable(tbl)
        t.write(spark.range(0, 10))
        for i in range(n_appends):
            t.append(spark.range(100 + 10 * i, 105 + 10 * i))
        return tbl, t

    def test_offset_at_retention_boundary_raises(self, spark, tdir):
        """Checkpointed at first_v - 1: the old guard let this bootstrap
        and re-deliver the WHOLE cumulative set — must raise instead."""
        tbl, t = self._table(spark, tdir)  # versions 1..4
        t.expire_snapshots(keep_last=2)  # retained: {3, 4}
        with pytest.raises(ValueError, match="expired under the consumer"):
            self._files(tbl, 2, 4)
        # a consumer AT a retained offset resumes fine, delta-only
        got = self._files(tbl, 3, 4)
        all_v4 = self._files(tbl, 0, 4)
        assert got and set(got) < set(all_v4)

    def test_expiry_gap_from_tag_does_not_duplicate(self, spark, tdir):
        """expire keeps tagged mid-range versions -> gaps in the log. The
        diff must run against the nearest RETAINED predecessor, delivering
        every file exactly once (the old code re-emitted v4's whole
        cumulative set because v3 was missing)."""
        tbl, t = self._table(spark, tdir)  # versions 1..4
        t.tag("pin", 2)
        t.expire_snapshots(keep_last=1)  # retained: {2 (tag), 4}
        boot = self._files(tbl, 0, 4)  # fresh consumer: full state once
        assert len(boot) == len(set(boot))
        # resumed consumer at the tagged version: only v3+v4's files
        delta = self._files(tbl, 2, 4)
        assert len(delta) == len(set(delta))
        assert set(boot) == set(self._files(tbl, 0, 2)) | set(delta)
        # offset inside the gap was expired under the consumer: raise
        with pytest.raises(ValueError, match="expired under the consumer"):
            self._files(tbl, 3, 4)

    def test_second_vector_delete_is_not_an_append(self, spark, tdir):
        """ADVICE r10 (medium): dv -> dv' replaces the single vector entry
        (same length, same manifests) — a length compare misses it and the
        stream silently ignores the delete. Structural compare must raise."""
        tbl = os.path.join(tdir, "t")
        t = SnapshotTable(tbl)
        t.write(spark.range(0, 10))
        t.delete_where(spark, F.col("id") == 1, vector=True)  # v2: [dv]
        t.delete_where(spark, F.col("id") == 2, vector=True)  # v3: [dv']
        with pytest.raises(ValueError, match="not a plain append"):
            self._files(tbl, 2, 3)
        # skip mode streams past it without inventing rows
        assert self._files(tbl, 2, 3, "skip") == []


class TestCboApplyJoinHardening:
    """ADVICE r10 (low): apply_join must reject an ambiguous key rename
    and must not hint a broadcast Catalyst cannot honor (build side ==
    outer side)."""

    def test_clashing_right_column_raises(self, spark):
        from iceberg_evolve_spark.operators.cbo import apply_join

        left = spark.range(5).select(F.col("id").alias("k"))
        right = spark.range(5).select(
            F.col("id").alias("rk"), F.lit(1).alias("k")
        )
        with pytest.raises(ValueError, match="ambiguous"):
            apply_join(
                left, right,
                {"strategy": "shuffle", "build_side": None, "est_rows": 5},
                "k", "rk",
            )

    def test_outer_side_broadcast_falls_back_to_shuffle(self, spark):
        from iceberg_evolve_spark.operators.cbo import apply_join

        left = spark.range(6).select(F.col("id").alias("k"))
        right = spark.range(3).select(
            F.col("id").alias("rk"), (F.col("id") * 10).alias("v")
        )
        decision = {"strategy": "broadcast", "build_side": "left",
                    "est_rows": 3}
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = apply_join(left, right, decision, "k", "rk", how="left")
            plan = out._jdf.queryExecution().executedPlan().toString()
            # with auto-broadcast off, only an HONORED hint could produce a
            # BroadcastHashJoin — the dead left-side hint must not
            assert "BroadcastHashJoin" not in plan
            rows = {(r["k"], r["v"]) for r in out.collect()}
            assert rows == {(0, 0), (1, 10), (2, 20), (3, None), (4, None),
                            (5, None)}
            # a legal broadcast (build side = inner side) still lands
            ok = apply_join(
                left, right,
                {"strategy": "broadcast", "build_side": "right",
                 "est_rows": 3},
                "k", "rk", how="left",
            )
            assert "BroadcastHashJoin" in (
                ok._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


class TestStreamTailNestedSchema:
    """VERDICT r10 task 8: the tail source covers struct/array columns via
    recursive Arrow->DDL, same as the batch reader."""

    def test_struct_and_array_roundtrip(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshot_stream import (
            SnapshotStreamDataSource,
        )

        tbl = os.path.join(tdir, "t")
        out = os.path.join(tdir, "out")
        ck = os.path.join(tdir, "ck")
        t = SnapshotTable(tbl)
        df = spark.range(0, 6).select(
            F.col("id"),
            F.struct(
                F.col("id").alias("a"),
                F.concat(F.lit("x"), F.col("id")).alias("b"),
            ).alias("s"),
            F.array(F.col("id"), F.col("id") * 2).alias("arr"),
        )
        t.write(df)
        try:
            spark.dataSource.register(SnapshotStreamDataSource)
        except Exception:
            pass
        q = (
            spark.readStream.format("snapshot_stream")
            .option("path", tbl)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {
            r["id"]: (r["s"]["a"], r["s"]["b"], list(r["arr"]))
            for r in spark.read.parquet(out).collect()
        }
        assert rows == {i: (i, f"x{i}", [i, 2 * i]) for i in range(6)}

    def test_arrow_ddl_recursion(self):
        import pyarrow as pa

        from iceberg_evolve_spark.sources.snapshot_stream import _arrow_ddl

        t = pa.struct(
            [("a", pa.int64()), ("b", pa.list_(pa.string()))]
        )
        assert _arrow_ddl(t) == "struct<a: bigint, b: array<string>>"
        assert _arrow_ddl(pa.map_(pa.string(), pa.int32())) == (
            "map<string, int>"
        )


class TestBloomDistributedBuild:
    """VERDICT r10 task 3: the Bloom metadata plane is distributed — the
    build writes filter words as an executor-written parquet sidecar and
    the driver NEVER materializes the filter set; probes read only their
    k word indexes back through parquet row-group pruning."""

    def _table(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(
            spark.range(0, 800)
            .select(F.col("id").alias("k"), (F.col("id") % 7).alias("g"))
            .repartition(8)
        )
        return t

    def test_build_never_collects_to_driver(self, spark, tdir, monkeypatch):
        """The old build collect()ed every file's words (multi-GB at 1M
        files x 2^20 bits). Poison every driver-materialization path for
        the duration of the build: it must complete without one."""
        from pyspark.sql import DataFrame

        t = self._table(spark, tdir)

        def _banned(self, *a, **kw):  # noqa: ANN001
            raise AssertionError("analyze_bloom must not materialize rows on the driver")

        monkeypatch.setattr(DataFrame, "collect", _banned)
        monkeypatch.setattr(DataFrame, "toPandas", _banned)
        monkeypatch.setattr(DataFrame, "toLocalIterator", _banned)
        t.analyze_bloom(spark, ["k"])
        monkeypatch.undo()
        kept, total = t.plan_scan(eq={"k": 123})
        assert total == 8 and len(kept) < total
        assert t.read(spark, eq={"k": 123}).count() == 1

    def test_blob_is_metadata_only_and_words_are_parquet(self, spark, tdir):
        t = self._table(spark, tdir)
        blobs = t.analyze_bloom(spark, ["k"])
        blob = blobs["k"]
        # no per-file word maps, no covered list in the driver-held blob
        assert "files" not in blob and "covered" not in blob
        assert blob["manifests"] == ["m00001.json"]
        wdir = os.path.join(t.path, "_bloom", blob["words"])
        parts = [f for f in os.listdir(wdir) if f.endswith(".parquet")]
        assert parts, "executor-written parquet sidecar missing"

    def test_absent_and_present_probe_semantics_unchanged(self, spark, tdir):
        t = self._table(spark, tdir)
        t.analyze_bloom(spark, ["k"])
        assert t.plan_scan(eq={"k": 99999})[0] == []
        got = t.read(spark, eq={"k": 456}).collect()
        assert len(got) == 1 and got[0]["k"] == 456

    def test_expiry_sweeps_words_sidecar_with_blob(self, spark, tdir):
        t = self._table(spark, tdir)
        t.analyze_bloom(spark, ["k"])
        t.write(spark.createDataFrame([(1, 1)], "k long, g long"))  # new lineage
        _, removed = t.expire_snapshots(keep_last=1)
        assert any(r.endswith(".json") and r.startswith("_bloom/") for r in removed)
        assert any(r.endswith(".words") for r in removed)
        assert not os.path.isdir(os.path.join(t.path, "_bloom")) or not os.listdir(
            os.path.join(t.path, "_bloom")
        )


class TestCommitCAS:
    """VERDICT r10 task 5 (What's missing 2): the snapshot-log commit is a
    compare-and-swap under a lock-file critical section — two concurrent
    appends BOTH survive (the later renumbers onto the winner's head);
    writes that cannot compose raise CommitConflict instead of silently
    last-write-wins clobbering."""

    def test_two_concurrent_appends_both_survive(self, spark, tdir):
        import threading

        from iceberg_evolve_spark.sources.snapshots import CommitConflict

        path = os.path.join(tdir, "t")
        SnapshotTable(path).write(spark.range(0, 10))
        dfs = {
            "a": spark.range(100, 110),
            "b": spark.range(200, 210),
        }
        errs: list[Exception] = []
        barrier = threading.Barrier(2)

        def run(key):
            try:
                barrier.wait()
                SnapshotTable(path).append(dfs[key])
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        ts = [threading.Thread(target=run, args=(k,)) for k in dfs]
        [t.start() for t in ts]
        [t.join(120) for t in ts]
        assert not errs, errs
        t = SnapshotTable(path)
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(10)) + list(range(100, 110)) + list(
            range(200, 210)
        )
        assert [e["version"] for e in t.versions()] == [1, 2, 3]
        # the manifest lists compose: head references all three commits
        assert len(t.versions()[-1]["manifests"]) == 3

    def test_stale_vector_delete_raises_not_clobbers(self, spark, tdir):
        """A merged deletion vector computed against a delete stack that
        moved must raise — replaying it would drop the winner's deletes."""
        from iceberg_evolve_spark.sources.snapshots import CommitConflict

        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 20))
        stale_entries = t.versions()  # snapshot of the log pre-race
        t.delete_where(spark, F.col("id") == 1, vector=True)  # the winner
        with pytest.raises(CommitConflict, match="delete"):
            t._commit_delta(
                stale_entries[-1], None,
                {"dir": "d99999", "kind": "dv", "paths": "rel"},
                "loser", None,
            )
        # the winner's delete is intact
        assert sorted(r["id"] for r in t.read(spark).collect()) == [
            i for i in range(20) if i != 1
        ]

    def test_append_composes_over_concurrent_delete(self, spark, tdir):
        """An append built against a head that a delete commit then moved
        lands on top of the delete (serialized after it) — no clobber, no
        spurious conflict."""
        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(0, 10))
        stale = t.versions()
        t.delete_where(spark, F.col("id") == 3)  # moves the head to v2
        # replay append's commit path against the stale read
        cur = stale[-1]
        import json as _json

        def _build(fresh):
            head = t._composable_head(fresh, cur, allow_fold=True)
            assert head["version"] == 2  # composed onto the delete commit
            mname = t._write_manifest_file(head["version"] + 1, [])
            return {
                "version": head["version"] + 1,
                "data_dir": head["data_dir"],
                "manifests": head["manifests"] + [mname],
                "base_seq": head.get("base_seq", head["version"]),
                "has_appends": True,
                "deletes": list(head.get("deletes", [])),
                "ts": 1.0,
                "note": "composed append",
            }

        assert t._commit_build(_build) == 3
        # the delete survived the composed append
        assert 3 not in {r["id"] for r in t.read(spark).collect()}

    def test_expire_raises_when_log_moved(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshots import CommitConflict

        path = os.path.join(tdir, "t")
        t = SnapshotTable(path)
        t.write(spark.range(5))
        t.append(spark.range(5, 8))
        stale = t.versions()
        t.append(spark.range(8, 11))
        with pytest.raises(CommitConflict, match="advanced"):
            t._commit(stale[-1:], expected_head=stale[-1]["version"])

    def test_concurrent_vector_deletes_never_lose_rows(self, spark, tdir):
        """Race two vector deletes: either both commit (serialized) or the
        loser raises CommitConflict — a committed delete is never silently
        undone."""
        import threading

        from iceberg_evolve_spark.sources.snapshots import CommitConflict

        path = os.path.join(tdir, "t")
        SnapshotTable(path).write(spark.range(0, 30))
        outcomes: dict[int, Exception | None] = {}
        barrier = threading.Barrier(2)

        def run(key):
            try:
                barrier.wait()
                SnapshotTable(path).delete_where(
                    spark, F.col("id") == key, vector=True
                )
                outcomes[key] = None
            except CommitConflict as exc:
                outcomes[key] = exc

        ts = [threading.Thread(target=run, args=(k,)) for k in (5, 7)]
        [t.start() for t in ts]
        [t.join(180) for t in ts]
        assert set(outcomes) == {5, 7}
        live = {r["id"] for r in SnapshotTable(path).read(spark).collect()}
        for key, err in outcomes.items():
            if err is None:
                assert key not in live  # committed delete applied
            else:
                assert key in live  # refused delete changed nothing


class TestBranchCherryPick:
    """VERDICT r10 task 6 (What's missing 3): a diverged audit branch gets
    a path back onto moved main — Iceberg's cherrypick_snapshot."""

    def _diverged(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        b = t.create_branch("audit")
        b.append(spark.range(100, 105))  # branch increment
        t.append(spark.range(200, 203))  # main moves -> diverged
        return t, b

    def test_cherry_pick_lands_increment_ff_still_refuses(self, spark, tdir):
        t, b = self._diverged(spark, tdir)
        with pytest.raises(ValueError, match="diverged"):
            t.fast_forward("audit")
        v = t.cherry_pick("audit")
        assert v == 3
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(10)) + list(range(100, 105)) + list(
            range(200, 203)
        )
        # still refuses afterwards: main's history is not the branch's
        with pytest.raises(ValueError, match="diverged"):
            t.fast_forward("audit")

    def test_cherry_pick_delete_commit_reserializes(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        b = t.create_branch("audit")
        b.delete_where(spark, F.col("id") == 4)
        t.append(spark.range(100, 103))  # main moves
        t.cherry_pick("audit")
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == [i for i in range(10) if i != 4] + [100, 101, 102]
        # the picked delete serialized after main's append
        assert t.versions()[-1]["deletes"][-1]["seq"] == 3

    def test_cherry_pick_refuses_branch_vector_merge(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshots import CommitConflict

        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        b = t.create_branch("audit")
        b.delete_where(spark, F.col("id") == 4, vector=True)
        t.append(spark.range(100, 103))
        with pytest.raises(CommitConflict, match="deletion-vector"):
            t.cherry_pick("audit")

    def test_cherry_pick_refuses_when_main_compacted(self, spark, tdir):
        from iceberg_evolve_spark.sources.snapshots import CommitConflict

        t, b = self._diverged(spark, tdir)
        t.delete_where(spark, F.col("id") == 1)
        t.rewrite_data_files(spark)  # main rewrote history
        with pytest.raises(CommitConflict, match="rewrote history"):
            t.cherry_pick("audit")

    def test_eq_delete_then_append_refused(self, spark, tdir):
        """A branch eq-delete FOLLOWED by a branch append cannot cherry-pick:
        the restamped delete sequence would wrongly apply to the branch's
        own later files (one scalar seq cannot order 'after main's
        concurrent appends but before the branch's later appends')."""
        from iceberg_evolve_spark.sources.snapshots import CommitConflict

        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10).select(F.col("id").alias("k")))
        b = t.create_branch("audit")
        b.delete_by_key(
            spark.createDataFrame([(3,)], "k long"), ["k"]
        )
        b.append(spark.createDataFrame([(3,)], "k long"))  # re-insert k=3
        t.append(spark.createDataFrame([(50,)], "k long"))  # main moves
        with pytest.raises(CommitConflict, match="appends AFTER an equality"):
            t.cherry_pick("audit")

    def test_append_then_eq_delete_picks_correctly(self, spark, tdir):
        """The reverse order IS safe: the restamped eq delete must apply to
        both the branch's earlier append and main's concurrent append."""
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10).select(F.col("id").alias("k")))
        b = t.create_branch("audit")
        b.append(spark.createDataFrame([(100,), (101,)], "k long"))
        b.delete_by_key(
            spark.createDataFrame([(100,), (5,), (50,)], "k long"), ["k"]
        )
        t.append(spark.createDataFrame([(50,), (51,)], "k long"))  # main
        t.cherry_pick("audit")
        got = sorted(r["k"] for r in t.read(spark).collect())
        # 5 (base), 100 (branch append), 50 (main append) all deleted; the
        # delete serialized after everything committed before the pick
        assert got == [i for i in range(10) if i != 5] + [51, 101]

    def test_fast_forward_path_taken_when_main_static(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 10))
        b = t.create_branch("audit")
        b.append(spark.range(100, 105))
        assert t.cherry_pick("audit") == 2  # == fast_forward
        got = sorted(r["id"] for r in t.read(spark).collect())
        assert got == list(range(10)) + list(range(100, 105))


class TestReviewFixes:
    """Round-11 self-review findings, each pinned by a test."""

    def test_renumbered_append_restamps_file_sequence(self, spark, tdir):
        """An append renumbered past a concurrent EQUALITY delete must
        restamp its files to the final commit's sequence — otherwise the
        delete (strictly-older rule) silently erases rows that serialized
        AFTER it."""
        path = os.path.join(tdir, "t")

        class Racy(SnapshotTable):
            raced = False

            def _commit_build(self, build):
                # inject a concurrent eq-delete between this append's
                # versions() read and its commit — deterministic race
                if not Racy.raced:
                    Racy.raced = True
                    SnapshotTable(self.path).delete_by_key(
                        spark.createDataFrame([(5,)], "k long"), ["k"]
                    )
                return super()._commit_build(build)

        SnapshotTable(path).write(
            spark.range(0, 10).select(F.col("id").alias("k"))
        )
        t = Racy(path)
        t.append(spark.createDataFrame([(5,), (77,)], "k long"))
        log = SnapshotTable(path).versions()
        assert [e["version"] for e in log] == [1, 2, 3]
        assert log[1]["deletes"][0]["kind"] == "eq"  # the injected delete
        # the re-appended k=5 row serialized AFTER the delete: must survive
        got = sorted(r["k"] for r in SnapshotTable(path).read(spark).collect())
        assert got == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 77]
        # and the files physically carry the final sequence stamp
        files = SnapshotTable(path)._entry_files(log[-1])
        assert any(os.path.basename(f).startswith("s00003-") for f in files)
        assert not any(
            os.path.basename(f).startswith("s00002-") for f in files
        )

    def test_bootstrap_with_deletes_refuses_in_fail_mode(self, spark, tdir):
        """A from-zero bootstrap at a delete-carrying snapshot would
        deliver deleted rows (files are the unit, visibility is not):
        fail mode must refuse; skip mode keeps the rows-not-visibility
        contract."""
        from iceberg_evolve_spark.sources.snapshot_stream import _added_files

        tbl = os.path.join(tdir, "t")
        t = SnapshotTable(tbl)
        t.write(spark.range(0, 10))
        t.append(spark.range(10, 14))
        t.delete_where(spark, F.col("id") == 1)
        t.tag("pin", 3)
        t.expire_snapshots(keep_last=1)  # oldest retained = v3 (deletes)
        with pytest.raises(ValueError, match="carries row-level deletes"):
            _added_files(tbl, 0, 3, "fail")
        boot = _added_files(tbl, 0, 3, "skip")
        assert len(boot) == len(set(boot)) and boot  # rows contract holds

    def test_cherry_pick_accepts_logical_ts(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 6), ts=1000.0)
        b = t.create_branch("audit")
        b.append(spark.range(10, 12), ts=2000.0)
        t.append(spark.range(20, 22), ts=3000.0)
        t.cherry_pick("audit", ts=4000.0)
        assert t.versions()[-1]["ts"] == 4000.0
        # as_of stays coherent on the logical time scale
        assert t.read(spark, as_of=3500.0).count() == 8
        assert t.read(spark, as_of=4500.0).count() == 10

    def test_cherry_pick_revalidates_under_the_lock(self, spark, tdir):
        """A rollback landing on main between the pre-check and a pick
        keeps the same data_dir — _build must still refuse."""
        from iceberg_evolve_spark.sources.snapshots import CommitConflict

        path = os.path.join(tdir, "t")

        class Racy(SnapshotTable):
            raced = False

            def _commit_build(self, build):
                if not Racy.raced:
                    Racy.raced = True
                    SnapshotTable(self.path).rollback(1)
                return super()._commit_build(build)

        SnapshotTable(path).write(spark.range(0, 6))
        b = SnapshotTable(path).create_branch("audit")
        b.append(spark.range(10, 12))
        SnapshotTable(path).append(spark.range(20, 22))  # diverge
        with pytest.raises(CommitConflict, match="rewrote history"):
            Racy(path).cherry_pick("audit")

    def test_expire_orphan_grace_spares_fresh_scratch(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 6))
        t.append(spark.range(6, 9))
        scratch = os.path.join(t.path, "v00099-deadbeef.stage")
        os.makedirs(scratch)
        # fresh scratch survives a graced retention (a concurrent writer
        # may own it) ...
        t.expire_snapshots(keep_last=1, orphan_grace_sec=3600.0)
        assert os.path.isdir(scratch)
        # ... and is reclaimed by an ungraced one (single-writer default)
        t.expire_snapshots(keep_last=1)
        assert not os.path.isdir(scratch)

    def test_bloom_words_sidecar_is_few_files(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(
            spark.range(0, 800).select(F.col("id").alias("k")).repartition(8)
        )
        blob = t.analyze_bloom(spark, ["k"])["k"]  # default m_bits = 2^15
        wdir = os.path.join(t.path, "_bloom", blob["words"])
        parts = [f for f in os.listdir(wdir) if f.endswith(".parquet")]
        assert 1 <= len(parts) <= 2  # not shattered by default shuffling


class TestBranchScopedSidecars:
    """ADVICE r10 (low): _stats/_bloom sidecars are keyed by version only
    while logs are branch-scoped — analyze() on a branch whose version
    numbers diverged must not overwrite main's sidecar for that version."""

    def test_branch_analyze_does_not_clobber_main_stats(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(spark.range(0, 100).select(F.col("id").alias("k")))
        t.append(spark.range(100, 200).select(F.col("id").alias("k")))
        t.analyze(spark, ["k"], version=2)  # main v2: 200 rows
        b = t.create_branch("audit", 1)
        b.append(spark.range(500, 510).select(F.col("id").alias("k")))
        b.analyze(spark, ["k"])  # branch v2: 110 rows
        assert t.stats(version=2)["_n_rows"] == 200  # main untouched
        assert b.stats()["_n_rows"] == 110
        assert os.path.exists(
            os.path.join(t.path, "_stats", "audit-00002.json")
        )

    def test_branch_bloom_is_scoped_and_probed_separately(self, spark, tdir):
        t = SnapshotTable(os.path.join(tdir, "t"))
        t.write(
            spark.range(0, 800)
            .select(F.col("id").alias("k"))
            .repartition(8)
        )
        b = t.create_branch("audit")
        b.analyze_bloom(spark, ["k"])
        # main never analyzed: no blob in main scope -> conservative plan
        kept, total = t.plan_scan(eq={"k": 99999})
        assert len(kept) == total == 8
        # branch probes its own blob and prunes
        kept_b, _ = b.plan_scan(eq={"k": 99999})
        assert kept_b == []

"""Snapshot/time-travel layer (`sources/snapshots.py`): manifest commit
protocol, version resolution, logical rollback, and orphan tolerance."""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.sources.snapshots import MANIFEST, SnapshotTable


@pytest.fixture()
def table(tmp_path, spark):
    t = SnapshotTable(str(tmp_path / "t"))
    t.write(spark.range(0, 10), note="ten", ts=100.0)
    t.write(spark.range(0, 25), note="twentyfive", ts=200.0)
    return t


def test_versions_and_pinned_reads(spark, table):
    assert [e["version"] for e in table.versions()] == [1, 2]
    assert table.read(spark, version=1).count() == 10
    assert table.read(spark, version=2).count() == 25
    assert table.read(spark).count() == 25  # latest


def test_as_of_resolution(spark, table):
    assert table.read(spark, as_of=150.0).count() == 10
    assert table.read(spark, as_of=200.0).count() == 25  # inclusive boundary
    with pytest.raises(LookupError):
        table.read(spark, as_of=50.0)


def test_rollback_is_logical_and_history_preserved(spark, table):
    v3 = table.rollback(1, ts=300.0)
    assert v3 == 3
    assert table.read(spark).count() == 10  # latest is v1's data again
    assert table.read(spark, version=2).count() == 25  # v2 still readable
    # rollback entry points at v1's dir — no data was copied or deleted
    entries = table.versions()
    assert entries[-1]["data_dir"] == entries[0]["data_dir"]


def test_orphan_data_dir_is_ignored(spark, table):
    """A crash between data-dir rename and manifest commit leaves an orphan
    dir that no reader ever sees (the manifest is the source of truth)."""
    orphan = os.path.join(table.path, "v00099")
    spark.range(0, 3).write.parquet(orphan)
    assert [e["version"] for e in table.versions()] == [1, 2]
    assert table.read(spark).count() == 25


def _assert_log_sound(t: SnapshotTable) -> None:
    """The log is the checkpoint plus atomically-linked commit files; each
    commit file is complete JSON (never torn — the tmp is fully written
    before the link), no tmp remnants survive a commit, and every entry of
    main and of each branch carries a non-empty manifest list whose files
    all exist (the only snapshot shape the storage plane reads)."""
    logs = [t.versions()] + [
        t.branch_table(b).versions() for b in t.branches()
    ]
    for entries in logs:
        assert entries
        for e in entries:
            assert {"version", "data_dir", "ts"} <= set(e)
            assert e["manifests"], f"v{e['version']} has no manifests"
            for mname in e["manifests"]:
                assert os.path.isfile(os.path.join(t.path, mname)), mname
    for name in os.listdir(t.path):
        if name.endswith(".commit.json"):
            with open(os.path.join(t.path, name)) as fh:
                e = json.load(fh)
            assert {"version", "data_dir", "ts"} <= set(e)
        assert ".tmp" not in name or name.endswith(
            (".stage",)
        ), f"torn tmp remnant {name}"


def _norm_entry(entry: dict) -> dict:
    """``entry`` with generated uuid name suffixes (taken on a name
    collision) replaced by ``-UUID``, so pinned entries compare exactly."""
    return json.loads(re.sub(r"-[0-9a-f]{8}\b", "-UUID", json.dumps(entry)))


def test_log_is_valid_json_after_every_commit(spark, table):
    """One of each committing operation on a sorted, partitioned,
    schema-tracked lineage: the log is re-checked after each, and each
    commit's new head entry is pinned whole — what it inherits from the
    entry before it and what it changes."""
    import copy

    from iceberg_evolve_spark.schema import Schema

    t = table
    _assert_log_sound(t)

    def rows(lo, hi):
        return spark.range(lo, hi).withColumn("k", F.col("id") % 5)

    def pin(expected: dict, handle: SnapshotTable = t) -> None:
        _assert_log_sound(t)
        assert _norm_entry(handle.versions()[-1]) == expected

    def gen0(*manifests: str) -> dict:
        return {
            "manifests": list(manifests),
            "manifest_schemas": dict.fromkeys(manifests, 0),
        }

    s0 = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {"id": 2, "name": "k", "required": False, "type": "long"},
        ],
    }
    s1 = copy.deepcopy(s0)
    s1["schema-id"] = 1
    s1["fields"].append(
        {"id": 99, "name": "note", "required": False, "type": "string"}
    )
    lineage = {
        "data_dir": "v00003",
        "base_seq": 3,
        "partition_by": ["k"],
        "sort_by": ["id"],
        "schema_id": 0,
        "schemas": {"0": s0},
    }
    appended = {**lineage, "has_appends": True}
    pos = {"dir": "d00001", "kind": "pos", "paths": "rel", "seq": 5}
    dv = {"dir": "d00002", "kind": "dv", "paths": "rel", "seq": 6}
    eq = {"cols": ["id"], "dir": "d00003", "kind": "eq", "seq": 7}
    folded_dv = {
        "dir": "d00004", "kind": "dv", "paths": "rel", "seq": 8,
        "supersedes": ["d00002"],
    }

    t.write(
        rows(0, 30), ts=300.0, track_schema=True, partition_by=["k"],
        sort_by=["id"], sort_files=2,
    )
    # sort_files shapes the write only: the entry does not record it
    pin({**lineage, "version": 3, "ts": 300.0, "note": None,
         **gen0("m00003.json")})
    t.append(rows(30, 40), ts=301.0)
    base_files = gen0("m00003.json", "m00004.json")
    pin({**appended, "version": 4, "ts": 301.0, "note": "append",
         **base_files})
    t.delete_where(spark, F.col("id") == 1, ts=302.0)
    pin({**appended, "version": 5, "ts": 302.0, "note": "delete_where",
         **base_files, "deletes": [pos]})
    t.delete_where(spark, F.col("id") == 2, vector=True, ts=303.0)
    pin({**appended, "version": 6, "ts": 303.0,
         "note": "delete_where (vector)", **base_files,
         "deletes": [pos, dv]})
    t.delete_by_key(
        spark.createDataFrame([(3,)], "id long"), ["id"], ts=304.0
    )
    pin({**appended, "version": 7, "ts": 304.0,
         "note": "delete_by_key ['id']", **base_files,
         "deletes": [pos, dv, eq]})
    folded = t.rewrite_delete_files(spark, ts=305.0)
    pin({**appended, "version": 8, "ts": 305.0,
         "note": "rewrite_delete_files: 3 delete files -> 1 vector",
         **base_files, "deletes": [folded_dv], "delete_rewrite": True})
    t.rewrite_data_files(spark, ts=306.0)
    pin({**appended, "version": 9, "ts": 306.0,
         "note": "rewrite_data_files (scoped: 3 rewritten, 12 carried)",
         **gen0("m00009.json"), "rewrite": True})
    t.rollback(folded, ts=307.0)
    pin({**appended, "version": 10, "ts": 307.0, "note": "rollback to v8",
         **base_files, "deletes": [folded_dv], "rollback_of": 8})
    audit = t.create_branch("audit")
    audit.append(rows(40, 45), ts=308.0)
    audited = {**appended, "version": 11, "ts": 308.0, "note": "append",
               **gen0("m00003.json", "m00004.json", "m00011-audit.json"),
               "deletes": [folded_dv]}
    pin(audited, audit)
    t.fast_forward("audit")
    pin(audited)
    t.create_branch("pick").append(rows(45, 50), ts=309.0)
    t.append(rows(50, 55), ts=310.0)  # main diverges from the branch
    main_m = ["m00003.json", "m00004.json", "m00011-audit.json",
              "m00012.json"]
    pin({**appended, "version": 12, "ts": 310.0, "note": "append",
         **gen0(*main_m), "deletes": [folded_dv]})
    t.cherry_pick("pick", ts=311.0)
    main_m.append("m00012-pick.json")
    pin({**appended, "version": 13, "ts": 311.0,
         "note": "cherry-pick pick@v12: append", **gen0(*main_m),
         "deletes": [folded_dv]})
    t.stage(rows(55, 60), "wap", partition_by=["k"])
    t.publish("wap", mode="append", ts=312.0)
    main_m.append("m00014.json")
    pin({**appended, "version": 14, "ts": 312.0,
         "note": "publish wap (append)", **gen0(*main_m),
         "deletes": [folded_dv]})
    t.row_delta(
        add=rows(60, 62),
        delete_keys=spark.createDataFrame([(4,), (61,)], "id long"),
        cols=["id"],
        ts=313.0,
    )
    main_m.append("m00015.json")
    eq2 = {"cols": ["id"], "dir": "d00005", "kind": "eq", "seq": 15}
    pin({**appended, "version": 15, "ts": 313.0, "note": "row_delta",
         **gen0(*main_m), "deletes": [folded_dv, eq2]})
    j = copy.deepcopy(t.table_schema().to_json())
    j["fields"].append(
        {"id": 99, "name": "note", "type": "string", "required": False}
    )
    t.evolve_schema(Schema.from_json(j), ts=314.0)
    evolved = {**appended, "version": 16, "ts": 314.0,
               "note": "evolve schema -> id 1", **gen0(*main_m),
               "deletes": [folded_dv, eq2], "schema_id": 1,
               "schemas": {"0": s0, "1": s1},
               "schema_evolution": {"from": 0, "to": 1}}
    pin(evolved)
    t.expire_snapshots(keep_last=2)
    pin(evolved)  # retention folds the log; the head entry is untouched
    live = set(range(62)) - {1, 2, 3, 4}
    assert {r["id"] for r in t.read(spark).collect()} == live
    # an overwrite publish starts a fresh lineage that keeps the tracking
    t.stage(
        rows(70, 75).withColumn("note", F.lit("x")), "wap2",
        partition_by=["k"],
    )
    t.publish("wap2", ts=315.0)
    pin({"version": 17, "data_dir": "v00017", "base_seq": 17, "ts": 315.0,
         "note": "publish wap2", "partition_by": ["k"], "sort_by": ["id"],
         "schema_id": 1,
         "schemas": {"0": s0, "1": s1}, "manifests": ["m00017.json"],
         "manifest_schemas": {"m00017.json": 1}})
    assert {r["id"] for r in t.read(spark).collect()} == set(range(70, 75))


def test_overwrite_publish_keeps_sort_order(spark, tmp_path_factory):
    """An overwrite publish replaces a sorted table's content, not its sort
    order: appends after it still range-cluster their files on the sort
    column, so footer pruning keeps working."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("pubsort") / "t"))
    t.write(spark.range(0, 20), ts=1.0, sort_by=["id"], sort_files=2)
    t.stage(spark.range(100, 120), "w")
    t.publish("w", ts=2.0)
    # without AQE coalescing the increment lands in one file per range
    # partition: clustered files cover disjoint, internally sorted ranges
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        t.append(
            spark.range(0, 400, numPartitions=4).selectExpr(
                "(id * 7919) % 400 + 1000 AS id"
            ),
            ts=3.0,
        )
    finally:
        spark.conf.set(conf, prev)
    appended = [
        (int(r["id_lower"]), int(r["id_upper"]))
        for r in t.files_df(spark, stats_cols=["id"]).collect()
        if r["seq"] == t.versions()[-1]["version"] and r["n_rows"]
    ]
    assert len(appended) > 1
    appended.sort()
    assert all(a[1] < b[0] for a, b in zip(appended, appended[1:]))
    assert t.versions()[-1]["sort_by"] == ["id"]


def test_snapshots_are_immutable_under_append(spark, table):
    """Writing v3 never touches v1/v2 bytes (dir mtimes unchanged)."""
    d1 = os.path.join(table.path, "v00001")
    before = sorted(os.listdir(d1))
    table.write(spark.range(0, 7).withColumn("x", F.lit(1)), ts=300.0)
    assert sorted(os.listdir(d1)) == before
    assert table.read(spark, version=1).count() == 10


class TestExpireSnapshots:
    def test_expire_keeps_last_n_and_removes_orphans(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("exp") / "t"))
        for i in range(4):
            t.write(spark.range(i, i + 3).toDF("id"), ts=float(100 + i))
        expired, removed = t.expire_snapshots(keep_last=2)
        assert expired == [1, 2]
        # expired lineage dirs AND their manifest files are reclaimed
        assert {"v00001", "v00002"} <= set(removed)
        assert {"m00001.json", "m00002.json"} <= set(removed)
        assert [e["version"] for e in t.versions()] == [3, 4]
        # survivors still read; expired versions are unresolvable
        assert t.read(spark, version=4).count() == 3
        with pytest.raises(LookupError):
            t.read(spark, version=1)

    def test_rollback_target_survives_expiry(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("expr") / "t"))
        t.write(spark.range(0, 5).toDF("id"), ts=100.0)   # v1
        t.write(spark.range(0, 9).toDF("id"), ts=101.0)   # v2
        t.rollback(1, ts=102.0)                           # v3 -> v1's dir
        expired, removed = t.expire_snapshots(keep_last=1)
        assert expired == [1, 2]
        # v1's DATA DIR and manifest are still referenced by the surviving
        # rollback entry; only v2's storage goes
        assert set(removed) == {"v00002", "m00002.json"}
        assert t.read(spark).count() == 5

    def test_min_ts_overrides_count(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("expt") / "t"))
        for i in range(4):
            t.write(spark.range(0, i + 1).toDF("id"), ts=float(100 + i))
        expired, _ = t.expire_snapshots(keep_last=1, min_ts=101.0)
        assert expired == [1]  # v2..v4 kept by ts even though keep_last=1
        assert [e["version"] for e in t.versions()] == [2, 3, 4]

    def test_crash_between_commit_and_cleanup_is_safe(self, spark, tmp_path_factory):
        import os as _os

        t = SnapshotTable(str(tmp_path_factory.mktemp("expc") / "t"))
        for i in range(3):
            t.write(spark.range(0, i + 1).toDF("id"), ts=float(100 + i))
        # simulate the crash window: the retention fold landed (log shrunk
        # to its head), dirs not yet removed
        entries = t.versions()
        t._install_checkpoint(entries[-1:])
        assert _os.path.isdir(_os.path.join(t.path, "v00001"))  # orphan
        # the next retention call reclaims the crash orphans even though
        # their manifest entries are already gone
        expired, removed = t.expire_snapshots(keep_last=1)
        assert expired == []
        assert {"v00001", "v00002"} <= set(removed)
        assert t.read(spark).count() == 3

    def test_keep_last_validation(self, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("expv") / "t"))
        with pytest.raises(ValueError):
            t.expire_snapshots(keep_last=0)


class TestMergeOnRead:
    """Iceberg-v2-style row-level deletes: positional + equality delete
    files, merge-on-read application, compaction, retention interplay."""

    @pytest.fixture()
    def mor(self, tmp_path_factory, spark):
        t = SnapshotTable(str(tmp_path_factory.mktemp("mor") / "t"))
        df = spark.range(0, 100).withColumn("grp", F.col("id") % 5)
        t.write(df.repartition(4), ts=100.0)
        return t

    def test_positional_delete_is_merge_on_read(self, spark, mor):
        v2 = mor.delete_where(spark, F.col("grp") == 0, ts=200.0)
        assert v2 == 2
        e = mor.versions()
        # the data dir is NOT rewritten — that's the point
        assert e[0]["data_dir"] == e[1]["data_dir"]
        assert [d["kind"] for d in e[1]["deletes"]] == ["pos"]
        assert mor.read(spark).count() == 80
        # time travel through the delete stack
        assert mor.read(spark, version=1).count() == 100

    def test_deletes_stack(self, spark, mor):
        mor.delete_where(spark, F.col("grp") == 0, ts=200.0)
        mor.delete_where(spark, F.col("id") < 10, ts=300.0)
        # 100 - 20 (grp 0) - 8 (id<10 minus the two already deleted)
        assert mor.read(spark).count() == 72
        assert mor.read(spark, version=2).count() == 80

    def test_empty_delete_does_not_commit(self, spark, mor):
        v = mor.delete_where(spark, F.col("id") > 1000, ts=200.0)
        assert v == 1
        assert len(mor.versions()) == 1

    def test_equality_delete(self, spark, mor):
        keys = spark.createDataFrame([(1,), (3,)], "grp long")
        v2 = mor.delete_by_key(keys, ["grp"], ts=200.0)
        assert v2 == 2
        e = mor.versions()
        assert e[1]["deletes"][0]["kind"] == "eq"
        assert e[1]["deletes"][0]["cols"] == ["grp"]
        assert mor.read(spark).count() == 60
        got = sorted(
            r["grp"] for r in mor.read(spark).select("grp").distinct().collect()
        )
        assert got == [0, 2, 4]

    def test_equality_delete_rejects_null_keys(self, spark, mor):
        keys = spark.createDataFrame([(1,), (None,)], "grp long")
        with pytest.raises(ValueError):
            mor.delete_by_key(keys, ["grp"])

    def test_rewrite_data_files_materializes(self, spark, mor):
        mor.delete_where(spark, F.col("grp") == 0, ts=200.0)
        v3 = mor.rewrite_data_files(spark, ts=300.0)
        e = mor.versions()
        assert not e[-1].get("deletes")
        # scoped compaction (default) folds INSIDE the lineage dir and
        # stamps the entry as a rewrite for changelog boundary detection
        assert e[-1]["data_dir"] == e[0]["data_dir"]
        assert e[-1].get("rewrite") is True
        assert mor.read(spark, version=v3).count() == 80
        # pre-compaction snapshots still time-travel
        assert mor.read(spark, version=1).count() == 100
        assert mor.read(spark, version=2).count() == 80

    def test_rewrite_scope_all_starts_new_lineage(self, spark, mor):
        """scope='all' is the layout-rewrite path: a fresh lineage dir, new
        base sequence — the pre-r10 whole-table behavior, kept for spec
        changes and full re-clustering."""
        mor.delete_where(spark, F.col("grp") == 0, ts=200.0)
        v3 = mor.rewrite_data_files(spark, ts=300.0, scope="all")
        e = mor.versions()
        assert not e[-1].get("deletes")
        assert e[-1]["data_dir"] != e[0]["data_dir"]
        assert e[-1]["base_seq"] == v3
        assert mor.read(spark, version=v3).count() == 80
        assert mor.read(spark, version=1).count() == 100

    def test_scoped_rewrite_carries_untouched_files_byte_identical(
        self, spark, tmp_path_factory
    ):
        """VERDICT r9 task 2 done-criterion: compaction rewrites ONLY the
        files the delete stack references; every other file survives with
        the same inode, size, and mtime — never read, copied, or linked."""
        t = SnapshotTable(str(tmp_path_factory.mktemp("scoped") / "t"))
        df = spark.range(0, 100).withColumn("grp", (F.col("id") % 4).cast("string"))
        t.write(df, partition_by=["grp"], ts=100.0)
        lineage = os.path.join(t.path, "v00001")

        def sig(d):
            out = {}
            for root, _dirs, names in os.walk(d):
                for n in names:
                    if n.endswith(".parquet"):
                        fp = os.path.join(root, n)
                        st = os.stat(fp)
                        out[os.path.relpath(fp, d)] = (
                            st.st_ino, st.st_size, st.st_mtime_ns
                        )
            return out

        before = sig(lineage)
        # positional delete confined to partition grp=1: the rewrite scope
        # is exactly that partition's files
        t.delete_where(spark, F.col("grp") == "1", ts=200.0)
        v3 = t.rewrite_data_files(spark, ts=300.0)
        after = sig(lineage)
        touched = {r for r in before if r.startswith("grp=1/")}
        untouched = set(before) - touched
        assert untouched  # the test is vacuous otherwise
        for rel in untouched:
            assert after[rel] == before[rel], f"compaction touched {rel}"
        # replaced files no longer appear in the new manifest
        listed = set(t._entry_files(t.versions()[-1]))
        assert touched.isdisjoint(listed)
        assert sorted(r["id"] for r in t.read(spark, version=v3).collect()) == [
            i for i in range(100) if i % 4 != 1
        ]

    def test_rollback_carries_deletes(self, spark, mor):
        mor.delete_where(spark, F.col("grp") == 0, ts=200.0)   # v2
        mor.rewrite_data_files(spark, ts=300.0)                # v3
        v4 = mor.rollback(2, ts=400.0)                         # back to MOR view
        assert mor.read(spark, version=v4).count() == 80
        assert mor.versions()[-1]["deletes"]

    def test_retention_keeps_referenced_delete_files(self, spark, mor):
        mor.delete_where(spark, F.col("grp") == 0, ts=200.0)   # v2 -> d00001
        mor.delete_where(spark, F.col("id") < 10, ts=300.0)    # v3 -> +d00002
        expired, removed = mor.expire_snapshots(keep_last=1)
        assert expired == [1, 2]
        # v3 survives and references BOTH delete files: neither is swept
        assert removed == []
        assert mor.read(spark).count() == 72

    def test_retention_sweeps_superseded_delete_files(self, spark, mor):
        mor.delete_where(spark, F.col("grp") == 0, ts=200.0)   # v2 -> d00001
        mor.rewrite_data_files(spark, ts=300.0)                # v3 clean
        expired, removed = mor.expire_snapshots(keep_last=1)
        assert expired == [1, 2]
        # the superseded delete file goes; the lineage dir STAYS (v3's
        # files live in it) but the REPLACED data files inside it are swept
        assert "d00001" in removed
        assert "v00001" not in removed
        assert any(r.startswith("v00001/") and r.endswith(".parquet") for r in removed)
        assert mor.read(spark).count() == 80

    def test_delete_write_cost_is_rows_deleted(self, spark, mor):
        """The delete file holds only the deleted positions — write
        amplification O(rows deleted), not a table rewrite."""
        mor.delete_where(spark, F.col("id") == 42, ts=200.0)
        d = mor.versions()[-1]["deletes"][0]["dir"]
        ddf = spark.read.parquet(os.path.join(mor.path, d))
        assert ddf.count() == 1
        assert set(ddf.columns) == {"_file", "_pos"}


class TestMetadataTables:
    """Iceberg-style metadata tables: tbl.snapshots / tbl.files."""

    def test_snapshots_df(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("meta") / "t"))
        t.write(spark.range(10), note="first", ts=100.0)
        t.delete_where(spark, F.col("id") < 3, ts=200.0)
        rows = {r["version"]: r for r in t.snapshots_df(spark).collect()}
        assert rows[1]["note"] == "first" and rows[1]["n_delete_files"] == 0
        assert rows[2]["n_delete_files"] == 1
        assert rows[1]["data_dir"] == rows[2]["data_dir"]

    def test_files_df_counts_and_bounds(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("metaf") / "t"))
        t.write(spark.range(5, 25).coalesce(1), ts=100.0)
        t.delete_where(spark, F.col("id") >= 20, ts=200.0)
        files = t.files_df(spark, stats_cols=["id"]).collect()
        by_content = {r["content"]: r for r in files}
        assert by_content["data"]["n_rows"] == 20
        assert by_content["data"]["id_lower"] == "5"
        assert by_content["data"]["id_upper"] == "24"
        assert by_content["data"]["size_bytes"] > 0
        assert by_content["pos-delete"]["n_rows"] == 5
        # the delete file has no 'id' column: bounds are NULL
        assert by_content["pos-delete"]["id_lower"] is None

    def test_files_df_time_travel(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("metat") / "t"))
        t.write(spark.range(10).coalesce(1), ts=100.0)
        t.delete_where(spark, F.col("id") < 3, ts=200.0)
        v1_files = t.files_df(spark, version=1).collect()
        assert [r["content"] for r in v1_files] == ["data"]
        v2_files = t.files_df(spark).collect()
        assert sorted(r["content"] for r in v2_files) == ["data", "pos-delete"]


def test_delete_dir_naming_survives_retention(spark, tmp_path_factory):
    """Regression: delete-dir names must come from max(existing)+1, not a
    count of manifest references — after retention shrinks the manifest, a
    count-based name collides with a live delete dir."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("morddn") / "t"))
    t.write(
        spark.range(0, 100).withColumn("grp", F.col("id") % 5), ts=100.0
    )
    t.delete_where(spark, F.col("grp") == 0, ts=200.0)  # d00001
    t.delete_where(spark, F.col("grp") == 1, ts=300.0)  # d00002
    t.expire_snapshots(keep_last=1)  # manifest now ONE entry, 2 dirs live
    v = t.delete_where(spark, F.col("grp") == 2, ts=400.0)
    dirs = [d["dir"] for d in t.versions()[-1]["deletes"]]
    assert dirs == ["d00001", "d00002", "d00003"]
    assert t.read(spark, version=v).count() == 40


def test_files_df_walks_partitioned_layout(spark, tmp_path_factory):
    """files_df must see files nested under key=value partition dirs."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("metap") / "t"))
    df = spark.range(40).withColumn("g", F.col("id") % 2)
    t.write(df.repartition("g"), ts=1.0, partition_by=["g"])
    files = t.files_df(spark).collect()
    assert sum(r["n_rows"] for r in files) == 40
    assert all("g=" in r["file"] for r in files)
    assert len(files) >= 2


class TestMorScaleSafety:
    """Round-8 scale fixes: the delete scan parallelizes (no coalesce(1)
    pipeline collapse), delete-file application is only broadcast under the
    size guard, helper-column collisions fail loudly, and empty equality
    deletes don't commit."""

    def test_delete_scan_writes_parallel_delete_dir(self, spark, tmp_path_factory):
        """The positional-delete scan must NOT collapse onto one task: with a
        multi-partition source and matches in every partition, the delete dir
        holds >1 part file (write tasks == scan tasks in a narrow pipeline,
        so multiple files proves the scan parallelized)."""
        t = SnapshotTable(str(tmp_path_factory.mktemp("morpar") / "t"))
        t.write(
            spark.range(0, 4000).withColumn("grp", F.col("id") % 4).repartition(8),
            ts=100.0,
        )
        t.delete_where(spark, F.col("grp") == 0, ts=200.0)
        dd = os.path.join(t.path, t.versions()[-1]["deletes"][0]["dir"])
        parts = [
            f for f in os.listdir(dd)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        assert len(parts) > 1
        assert t.read(spark).count() == 3000

    def test_small_delete_is_broadcast(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("morbc") / "t"))
        t.write(spark.range(0, 100).withColumn("grp", F.col("id") % 5), ts=1.0)
        t.delete_where(spark, F.col("grp") == 0, ts=2.0)
        plan = t.read(spark)._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" in plan.lower()

    def test_oversized_delete_is_not_force_broadcast(
        self, spark, tmp_path_factory, monkeypatch
    ):
        """Past the size guard the join strategy is AQE's choice — the
        optimized logical plan must carry no forced broadcast hint (the mass
        -delete shape must not pin a table-sized delete file into driver
        memory)."""
        import iceberg_evolve_spark.sources.snapshots as snap

        t = SnapshotTable(str(tmp_path_factory.mktemp("morsm") / "t"))
        t.write(spark.range(0, 100).withColumn("grp", F.col("id") % 5), ts=1.0)
        t.delete_where(spark, F.col("grp") == 0, ts=2.0)
        monkeypatch.setattr(snap, "BROADCAST_DELETE_MAX_BYTES", 0)
        plan = t.read(spark)._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in plan.lower()
        # and the read is still correct, whatever strategy AQE picks
        assert t.read(spark).count() == 80

    def test_reserved_helper_columns_rejected(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("morres") / "t"))
        t.write(spark.range(0, 10).withColumn("_file", F.lit("x")), ts=1.0)
        with pytest.raises(ValueError, match="_file"):
            t.delete_where(spark, F.col("id") < 5)

    def test_empty_equality_delete_does_not_commit(self, spark, tmp_path_factory):
        t = SnapshotTable(str(tmp_path_factory.mktemp("moreq0") / "t"))
        t.write(spark.range(0, 10).withColumn("grp", F.col("id") % 2), ts=1.0)
        empty = spark.createDataFrame([], "grp long")
        v = t.delete_by_key(empty, ["grp"], ts=2.0)
        assert v == 1
        assert len(t.versions()) == 1
        # no delete dir was left behind as a committed artifact
        assert not any(
            n.startswith("d") and n[1:].isdigit() for n in os.listdir(t.path)
        )


class TestStructLeafShadow:
    """A struct field ``s.k`` has parquet leaf name ``k``: footer statistics
    must be found by column path, or the struct's bounds answer for the
    top-level ``k`` and prune, report or scope on the wrong column."""

    @pytest.fixture()
    def shadowed(self, tmp_path_factory, spark):
        t = SnapshotTable(str(tmp_path_factory.mktemp("shadow") / "t"))
        df = spark.range(100, 103).toDF("k").withColumn(
            "s", F.struct((F.col("k") - 100).alias("k"))
        )
        t.write(df.coalesce(1), ts=1.0)
        return t

    def test_pruned_read_and_file_bounds_use_top_level_column(
        self, spark, shadowed
    ):
        got = shadowed.read(spark, where={"k": (100, 102)})
        assert sorted(r["k"] for r in got.collect()) == [100, 101, 102]
        (data,) = shadowed.files_df(spark, stats_cols=["k"]).collect()
        assert (data["k_lower"], data["k_upper"]) == ("100", "102")

    def test_scoped_rewrite_keeps_equality_delete(self, spark, shadowed):
        keys = spark.createDataFrame([(101,)], "k long")
        shadowed.delete_by_key(keys, ["k"], ts=2.0)
        shadowed.rewrite_data_files(spark, ts=3.0)
        assert sorted(r["k"] for r in shadowed.read(spark).collect()) == [
            100, 102,
        ]


class TestPrunedMorRead:
    """Scan planning composed into the snapshot read path: footer-stats file
    pruning BEFORE the delete anti-joins (Iceberg prunes manifests first,
    then applies deletes)."""

    @pytest.fixture()
    def clustered(self, tmp_path_factory, spark):
        """A snapshot whose data dir holds one file per id-century (tight
        footer bounds), with a positional and an equality delete on top."""
        t = SnapshotTable(str(tmp_path_factory.mktemp("morprune") / "t"))
        df = spark.range(0, 1000).withColumn("grp", F.col("id") % 10)
        # range-partition on id so each part file covers a tight id range
        t.write(df.repartitionByRange(10, "id"), ts=100.0)
        t.delete_where(spark, F.col("grp") == 3, ts=200.0)
        keys = spark.createDataFrame([(7,)], "grp long")
        t.delete_by_key(keys, ["grp"], ts=300.0)
        return t

    def test_pruned_equals_unpruned(self, spark, clustered):
        where = {"id": (150, 449)}
        pruned = clustered.read(spark, where=where)
        full = clustered.read(spark).filter(F.col("id").between(150, 449))
        assert sorted(r["id"] for r in pruned.collect()) == sorted(
            r["id"] for r in full.collect()
        )

    def test_plan_scan_reads_fewer_files(self, clustered):
        kept, total = clustered.plan_scan(where={"id": (150, 449)})
        assert total == 10
        assert 0 < len(kept) < total

    def test_out_of_range_scan_is_empty_with_schema(self, spark, clustered):
        df = clustered.read(spark, where={"id": (5000, 6000)})
        assert df.count() == 0
        assert set(df.columns) == {"id", "grp"}

    def test_deletes_still_apply_under_pruning(self, spark, clustered):
        # grp 3 (positional) and grp 7 (equality) rows must not reappear
        got = clustered.read(spark, where={"id": (0, 999)})
        assert got.filter(F.col("grp").isin(3, 7)).count() == 0
        assert got.count() == 800


def test_log_layout_is_private_to_snapshots_module():
    """Only ``sources/snapshots.py`` knows the snapshot-log file layout
    (``_snapshots.json`` checkpoints, ``_snapshots_{branch}.json`` branch
    logs, ``c{v}.commit.json`` commit files); every other module reads the
    log through ``SnapshotTable.versions()``."""
    import pathlib
    import re

    import iceberg_evolve_spark

    root = pathlib.Path(iceberg_evolve_spark.__file__).parent
    owner = root / "sources" / "snapshots.py"
    layout = re.compile(r"(?<!\w)_snapshots(?:\.json|_)|\.commit\.json")
    leaks = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path != owner
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if layout.search(line)
    ]
    assert not leaks, f"snapshot-log layout named outside snapshots.py: {leaks}"


def test_row_group_statistics_are_read_in_one_module():
    """Only ``sources/footer_stats.py`` reads parquet row-group statistics
    (``.row_group(...)`` calls and column-chunk ``.statistics``); every
    other module asks its footer reader, so how a column is found and what
    missing or all-null statistics prove is decided in one place."""
    import ast
    import pathlib

    import iceberg_evolve_spark

    root = pathlib.Path(iceberg_evolve_spark.__file__).parent
    owner = root / "sources" / "footer_stats.py"
    leaks = set()
    for path in sorted(root.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "row_group"
            ) or (isinstance(node, ast.Attribute) and node.attr == "statistics"):
                leaks.add(f"{path.relative_to(root)}:{node.lineno}")
    assert not leaks, (
        f"row-group statistics read outside footer_stats: {sorted(leaks)}"
    )


def test_snapshot_entries_are_built_in_two_places():
    """Every snapshot entry in ``sources/snapshots.py`` is built by
    ``_successor`` (a commit on the same lineage) or ``_new_lineage``
    (``write`` and the overwrite publish): no other function spells an
    entry out as a dict literal with ``version`` and ``manifests`` keys,
    so what an entry inherits is decided in one place."""
    import ast
    import pathlib

    import iceberg_evolve_spark

    owner = (
        pathlib.Path(iceberg_evolve_spark.__file__).parent
        / "sources"
        / "snapshots.py"
    )
    builders = {"_successor", "_new_lineage"}
    stray = []

    def visit(node, funcs):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            funcs = funcs + [node.name]
        if isinstance(node, ast.Dict):
            keys = {
                k.value for k in node.keys if isinstance(k, ast.Constant)
            }
            if {"version", "manifests"} <= keys and not builders & set(funcs):
                stray.append(f"{'.'.join(funcs) or '<module>'}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, funcs)

    visit(ast.parse(owner.read_text()), [])
    assert not stray, f"snapshot entries built outside {builders}: {stray}"

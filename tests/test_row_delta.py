"""Row-delta commits: one snapshot per CDC batch and per MERGE.

``SnapshotTable.row_delta`` lands an equality delete and new rows as ONE
commit, so no retained version ever shows a change half applied. The stream
test folds the same envelopes in pure Python and checks every retained
version against the fold at a batch or merge boundary."""

import os
import shutil
import tempfile
from functools import reduce

import pytest
from pyspark.sql import functions as F

from iceberg_evolve_spark.operators.merge import merge_into
from iceberg_evolve_spark.sources.snapshots import SnapshotTable
from iceberg_evolve_spark.streaming.sink import mor_cdc_batch_writer

CDC_SCHEMA = "k long, val string, op string, ts_ms long"


@pytest.fixture()
def tdir():
    d = tempfile.mkdtemp(prefix="ies-rowdelta-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _fold(state: dict, envelopes: list) -> dict:
    """Last write wins per key: latest ``ts_ms``; a delete beats an upsert
    at the same ``ts_ms`` (the sink's total order)."""
    last = {}
    for k, val, op, ts in envelopes:
        rank = (ts, op == "d")
        if k not in last or rank > last[k][0]:
            last[k] = (rank, op, val)
    out = dict(state)
    for k, (_rank, op, val) in last.items():
        if op == "d":
            out.pop(k, None)
        else:
            out[k] = val
    return out


def _merge_model(state: dict, src: dict, matched: str, not_matched: str):
    out = dict(state)
    for k, val in src.items():
        if k in state:
            if matched == "update":
                out[k] = val
            elif matched == "delete":
                del out[k]
        elif not_matched == "insert":
            out[k] = val
    return out


BATCHES = [
    # bootstrap
    [(k, f"v{k}", "c", 1) for k in range(10)],
    # updates, a delete, an insert
    [(1, "u1", "u", 10), (2, "u2", "u", 10), (3, "u3", "u", 10),
     (4, None, "d", 11), (20, "v20", "c", 11)],
    # delete + re-insert of key 5 in one batch; key 1 changed twice
    [(5, None, "d", 20), (5, "re5", "c", 21), (1, "a", "u", 20),
     (1, "b", "u", 22), (6, None, "d", 20)],
    # delete-only batch
    [(7, None, "d", 30), (8, None, "d", 30)],
]

MERGES = [
    ("update", "insert", {1: "m1", 40: "m40"}),
    ("update", None, {2: "m2", 41: "ghost"}),
    ("delete", "insert", {3: "x", 42: "m42"}),
    ("delete", None, {9: "x", 43: "ghost"}),
    (None, "insert", {0: "clobber", 44: "m44"}),
]


def _read_all(spark, t) -> dict:
    """{version: rows} of every retained version, in one Spark job."""
    reads = [
        t.read(spark, version=e["version"]).withColumn(
            "_v", F.lit(e["version"])
        )
        for e in t.versions()
    ]
    out: dict = {}
    for r in reduce(lambda x, y: x.unionByName(y), reads).collect():
        out.setdefault(r["_v"], set()).add((r["k"], r["val"]))
    return out


def test_one_commit_per_batch_and_merge(spark, tdir):
    t = SnapshotTable(os.path.join(tdir, "t"))
    writer = mor_cdc_batch_writer(spark, t.path, "k")
    steps = []  # (label, entries the step committed, end state)
    state: dict = {}
    for b, envelopes in enumerate(BATCHES):
        n = len(t.versions())
        writer(spark.createDataFrame(envelopes, CDC_SCHEMA), b)
        state = _fold(state, envelopes)
        steps.append((f"cdc-batch:{b}", t.versions()[n:], state))
    for matched, not_matched, src in MERGES:
        n = len(t.versions())
        merge_into(
            spark, t,
            spark.createDataFrame(list(src.items()), "k long, val string"),
            on="k", when_matched=matched, when_not_matched=not_matched,
        )
        state = _merge_model(state, src, matched, not_matched)
        label = f"merge {matched}/{not_matched}"
        steps.append((label, t.versions()[n:], state))
    # every retained version reads the end state of the step that made it
    # (a version between a delete and its rows would read fewer rows) ...
    rows = _read_all(spark, t)
    for label, new, end in steps:
        for e in new:
            assert rows.get(e["version"], set()) == set(end.items()), (
                label, e["note"],
            )
    # ... and each batch or merge committed exactly one entry, a batch's
    # stamped with its batch token
    for label, new, _end in steps:
        assert len(new) == 1, label
        if label.startswith("cdc-batch:"):
            assert new[0]["note"].split(" ", 1)[0] == label


def _move_head_during_ingest(monkeypatch, t, other):
    """Land ``other()`` as a concurrent commit right after ``t`` ingests
    its payload (before its CAS), once."""
    real = SnapshotTable._ingest_stage
    fired = []

    def ingest(self, stage, dest, prefix):
        rels = real(self, stage, dest, prefix)
        if not fired:
            fired.append(True)
            other()
        return rels

    monkeypatch.setattr(SnapshotTable, "_ingest_stage", ingest)


def test_row_delta_rebases_onto_a_concurrent_append(
    spark, tdir, monkeypatch
):
    """A row delta whose head moved renumbers: its files AND its delete
    carry the final version, so its delete applies to the concurrent
    append (serialized before it) and never to its own rows."""
    t = SnapshotTable(os.path.join(tdir, "t"))
    schema = "k long, val string"
    t.write(spark.createDataFrame([(k, "old") for k in range(4)], schema))
    other = SnapshotTable(t.path)
    racer = spark.createDataFrame([(1, "racer"), (9, "racer")], schema)
    _move_head_during_ingest(monkeypatch, t, lambda: other.append(racer))
    v = t.row_delta(
        add=spark.createDataFrame([(1, "new"), (2, "new")], schema),
        delete_keys=spark.createDataFrame([(1,), (2,)], "k long"),
        cols=["k"],
    )
    assert v == 3
    head = t.versions()[-1]
    assert head["deletes"][-1]["seq"] == 3
    got = sorted((r["k"], r["val"]) for r in t.read(spark).collect())
    assert got == [
        (0, "old"), (1, "new"), (2, "new"), (3, "old"), (9, "racer"),
    ]


def test_append_publish_rebases_onto_a_concurrent_append(
    spark, tdir, monkeypatch
):
    """publish(mode="append") composes with a concurrent append like
    append() does, instead of raising CommitConflict."""
    t = SnapshotTable(os.path.join(tdir, "t"))
    t.write(spark.range(0, 3))
    t.stage(spark.range(10, 12), "wap")
    other = SnapshotTable(t.path)
    _move_head_during_ingest(
        monkeypatch, t, lambda: other.append(spark.range(20, 21))
    )
    assert t.publish("wap", mode="append") == 3
    assert sorted(r["id"] for r in t.read(spark).collect()) == [
        0, 1, 2, 10, 11, 20,
    ]


def test_row_delta_empty_sides(spark, tdir):
    t = SnapshotTable(os.path.join(tdir, "t"))
    empty = spark.createDataFrame([], "k long, val string")
    # nothing to add or delete on an empty table: no commit
    assert t.row_delta(delete_keys=empty, cols=["k"]) == 0
    # the add bootstraps an empty table; there is nothing to delete yet
    assert t.row_delta(
        add=spark.createDataFrame([(1, "a")], "k long, val string"),
        delete_keys=spark.createDataFrame([(1,)], "k long"), cols=["k"],
    ) == 1
    # both sides empty: no commit
    assert t.row_delta(add=empty, delete_keys=empty, cols=["k"]) == 1
    with pytest.raises(ValueError, match="cols"):
        t.row_delta(delete_keys=empty)
    assert [r["k"] for r in t.read(spark).collect()] == [1]


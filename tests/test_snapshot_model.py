"""Model-based property test of the manifest-list storage layer.

A random sequence of table operations (write / append / delete_by_key on
``id`` or on ``g`` / delete_where / an upsert row delta / rollback / scoped
compaction / expire / tag / a changelog check) runs against BOTH
the real ``SnapshotTable`` and a trivial in-memory model (dict of version →
multiset of rows). After every step the real table's reads must equal the
model — current AND time-traveled — and retention must never break a
surviving version. This is the test class that catches protocol bugs unit
tests miss: interactions like "rollback to a version whose files a later
scoped compaction partially replaced, then expire, then read the rollback".

Kept deliberately small per example (Spark jobs are ~100 ms each) but wide
in operation space; hypothesis shrinks failures to minimal op sequences.
"""

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from iceberg_evolve_spark.sources.snapshots import SnapshotTable

# one op = (kind, int parameter); interpretation is kind-specific
_OPS = st.lists(
    st.tuples(
        st.sampled_from(
            ["append", "delete_key", "delete_g", "upsert", "delete_pred",
             "delete_vec", "fold_deletes", "rollback", "compact", "expire",
             "tag", "changes"]
        ),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=7,
)


def _rows(lo: int, hi: int) -> dict[int, int]:
    return {i: i % 5 for i in range(lo, hi)}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=_OPS)
def test_random_op_sequences_match_model(spark, ops):
    tmp = tempfile.mkdtemp(prefix="ies-model-")
    try:
        t = SnapshotTable(os.path.join(tmp, "t"))
        # model: version -> {id: g} of live rows at that version
        state = _rows(0, 30)
        v = t.write(
            spark.createDataFrame(list(state.items()), "id long, g long")
        )
        model = {v: dict(state)}
        next_fresh = 100  # id source for appends
        tagged: set[int] = set()

        for kind, p in ops:
            cur = dict(model[v])
            if kind == "append":
                new = _rows(next_fresh, next_fresh + 5)
                next_fresh += 5
                nv = t.append(
                    spark.createDataFrame(
                        list(new.items()), "id long, g long"
                    )
                )
                cur.update(new)
                v = nv
            elif kind == "delete_key":
                g = p % 5
                keys = [i for i, gg in cur.items() if gg == g][:3]
                if not keys:
                    continue
                nv = t.delete_by_key(
                    spark.createDataFrame([(k,) for k in keys], "id long"),
                    ["id"],
                )
                for k in keys:
                    cur.pop(k, None)
                v = nv
            elif kind == "delete_g":
                # an equality delete on a second key-column set
                g = p % 5
                nv = t.delete_by_key(
                    spark.createDataFrame([(g,)], "g long"), ["g"]
                )
                cur = {i: gg for i, gg in cur.items() if gg != g}
                v = nv
            elif kind == "upsert":
                # delete live keys and re-add them with a new g in ONE row
                # delta: the re-added rows share the delete's sequence
                # number and must survive it
                if not cur:
                    continue
                ids = sorted(cur)[p % len(cur):][:2]
                upd = {i: (cur[i] + 1) % 5 for i in ids}
                nv = t.row_delta(
                    add=spark.createDataFrame(
                        list(upd.items()), "id long, g long"
                    ),
                    delete_keys=spark.createDataFrame(
                        [(i,) for i in upd], "id long"
                    ),
                    cols=["id"],
                )
                cur.update(upd)
                v = nv
            elif kind == "delete_pred":
                cut = sorted(cur)[len(cur) // 2] if cur else 0
                nv = t.delete_where(spark, F.col("id") < cut)
                cur = {i: g for i, g in cur.items() if i >= cut}
                v = nv
            elif kind == "delete_vec":
                # Iceberg v3 deletion vector; merges with any prior vector
                hi = sorted(cur)[-(1 + p % 4):] if cur else []
                cut = hi[0] if hi else 0
                nv = t.delete_where(
                    spark, F.col("id") >= cut, vector=True
                )
                cur = {i: g for i, g in cur.items() if i < cut}
                v = nv
            elif kind == "fold_deletes":
                nv = t.rewrite_delete_files(spark)
                if nv is not None:
                    v = nv  # state unchanged
            elif kind == "rollback":
                targets = sorted(model)
                tgt = targets[p % len(targets)]
                nv = t.rollback(tgt)
                cur = dict(model[tgt])
                v = nv
            elif kind == "compact":
                nv = t.rewrite_data_files(spark)
                v = nv  # state unchanged
            elif kind == "expire":
                keep = 1 + p % 3
                t.expire_snapshots(keep_last=keep)
                survivors = set(
                    e["version"] for e in t.versions()
                )
                model = {
                    mv: rows for mv, rows in model.items() if mv in survivors
                }
            elif kind == "tag":
                name = f"tag{p}"
                if name not in {f"tag{q}" for q in tagged}:
                    t.tag(name, v)
                    tagged.add(p)
            elif kind == "changes":
                # changelog of every pair of consecutive retained versions:
                # the model's row diff where the later commit is
                # file-attributable, a refusal at a rollback or compaction
                entries = [e for e in t.versions() if e["version"] in model]
                for a, b in zip(entries, entries[1:]):
                    va, vb = a["version"], b["version"]
                    if b.get("rollback_of") is not None or b.get("rewrite"):
                        with pytest.raises(ValueError, match="boundary"):
                            t.changes_between(spark, va, vb)
                        continue
                    got = [
                        (r["_change_type"], r["id"], r["g"])
                        for r in t.changes_between(spark, va, vb).collect()
                    ]
                    old, new = set(model[va].items()), set(model[vb].items())
                    expect = [("insert", *r) for r in new - old] + [
                        ("delete", *r) for r in old - new
                    ]
                    assert sorted(got) == sorted(expect), (kind, va, vb)
            model[v] = cur

            # invariant: every surviving modeled version reads exactly
            # its modeled rows (current and time travel alike)
            for mv, rows in model.items():
                got = {
                    (r["id"], r["g"])
                    for r in t.read(spark, version=mv).collect()
                }
                assert got == set(rows.items()), (
                    f"version {mv} after {kind}: {len(got)} rows vs "
                    f"model {len(rows)}"
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- branch divergence + cherry-pick convergence (round 11) -----------------

_BRANCH_OPS = st.lists(
    st.tuples(
        st.sampled_from(
            ["b_append", "b_delete_pred", "b_upsert", "m_append",
             "m_delete_pred"]
        ),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=_BRANCH_OPS)
def test_branch_cherry_pick_converges_to_model(spark, ops):
    """Random interleave of composable ops (appends + positional deletes)
    on a branch and on main, then cherry_pick: the converged table must
    equal the model union — fork rows survive iff NEITHER side deleted
    them, each side's appends survive its own deletes, and no side's
    deletes ever touch the other side's appends (positional deletes name
    fork-or-own files only). Id ranges are disjoint by construction
    (fork < 100, branch appends 100-499, main appends >= 500) so the
    model is exact. A branch MERGE (``b_upsert``: one row delta adding
    rows and equality-deleting their keys) either converges to the same
    model or is refused with CommitConflict — never a silent row loss."""
    from iceberg_evolve_spark.operators.merge import merge_into
    from iceberg_evolve_spark.sources.snapshots import CommitConflict

    tmp = tempfile.mkdtemp(prefix="ies-model-branch-")
    try:
        t = SnapshotTable(os.path.join(tmp, "t"))
        fork = _rows(0, 20)
        t.write(spark.createDataFrame(list(fork.items()), "id long, g long"))
        b = t.create_branch("audit")
        bstate = dict(fork)  # branch view
        mstate = dict(fork)  # main view
        bnext, mnext = 100, 500
        for kind, p in ops:
            if kind == "b_append":
                new = _rows(bnext, bnext + 4)
                bnext += 4
                b.append(
                    spark.createDataFrame(list(new.items()), "id long, g long")
                )
                bstate.update(new)
            elif kind == "b_delete_pred":
                ids = sorted(bstate)
                if not ids:
                    continue
                cut = ids[p % len(ids)]
                b.delete_where(
                    spark, (F.col("id") >= cut) & (F.col("id") < cut + 3)
                )
                bstate = {
                    i: g
                    for i, g in bstate.items()
                    if not (cut <= i < cut + 3)
                }
            elif kind == "b_upsert":
                # update up to two live branch rows, insert two fresh ones
                ids = sorted(bstate)
                upd = ids[p % len(ids):][:2] if ids else []
                src = {i: 9 for i in upd} | _rows(bnext, bnext + 2)
                bnext += 2
                rows = spark.createDataFrame(
                    list(src.items()), "id long, g long"
                )
                merge_into(spark, b, rows, on="id")
                bstate.update(src)
            elif kind == "m_append":
                new = _rows(mnext, mnext + 4)
                mnext += 4
                t.append(
                    spark.createDataFrame(list(new.items()), "id long, g long")
                )
                mstate.update(new)
            elif kind == "m_delete_pred":
                ids = sorted(mstate)
                if not ids:
                    continue
                cut = ids[p % len(ids)]
                t.delete_where(
                    spark, (F.col("id") >= cut) & (F.col("id") < cut + 3)
                )
                mstate = {
                    i: g
                    for i, g in mstate.items()
                    if not (cut <= i < cut + 3)
                }
        try:
            t.cherry_pick("audit")
        except CommitConflict:
            # only a picked row delta may be refused, and nothing both
            # sides kept is lost (the refused pick and those after it add
            # and delete nothing)
            assert any(kind == "b_upsert" for kind, _p in ops)
            got = {r["id"] for r in t.read(spark).collect()}
            assert {i for i in fork if i in bstate and i in mstate} <= got
            assert {i for i in mstate if i >= 500} <= got
            return
        expect = (
            # fork rows: survive iff neither side deleted them (a branch
            # update re-adds the row with the branch's value)
            {
                i: bstate[i]
                for i in fork
                if i in bstate and i in mstate
            }
            # branch appends: survive the branch's own deletes
            | {i: g for i, g in bstate.items() if 100 <= i < 500}
            # main appends: branch deletes can never name their files
            | {i: g for i, g in mstate.items() if i >= 500}
        )
        got = {(r["id"], r["g"]) for r in t.read(spark).collect()}
        assert got == set(expect.items())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- streaming-tail delivery model (round 11, ADVICE r10 high) --------------

_TAIL_OPS = st.lists(
    st.tuples(
        st.sampled_from(["append", "delete_pred", "tag", "expire", "evolve"]),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=7,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=_TAIL_OPS)
def test_stream_tail_delivery_is_exactly_once(spark, ops):
    """Random append/delete/tag/expire sequences, then every consumer
    position is checked against the delivery model: for any retained
    checkpoint (start, head], files delivered in skip mode compose
    DISJOINTLY with the files delivered up to start (no duplicates, no
    gaps: bootstrap(0->start) ⊎ delta(start->head) == bootstrap(0->head)),
    and an expired checkpoint raises instead of re-delivering. This is
    the property ADVICE r10 (high) showed the old guard violated at
    retention boundaries and across tag-pinned expiry gaps. Round 12 adds
    ``evolve`` (a metadata-only schema commit) to the op mix: it delivers
    no files and must be transparent to the file-delivery model; appends
    after it carry the evolved shape."""
    import copy

    from iceberg_evolve_spark.schema import Schema
    from iceberg_evolve_spark.sources.snapshot_stream import _added_files

    tmp = tempfile.mkdtemp(prefix="ies-model-tail-")
    try:
        t = SnapshotTable(os.path.join(tmp, "t"))
        t.write(
            spark.createDataFrame(
                list(_rows(0, 12).items()), "id long, g long"
            ),
            track_schema=True,
        )
        nxt = 100
        tagged = 0
        n_evolved = 0
        for kind, p in ops:
            if kind == "append":
                df = spark.createDataFrame(
                    list(_rows(nxt, nxt + 4).items()), "id long, g long"
                )
                for i in range(n_evolved):  # match the evolved shape
                    df = df.withColumn(f"x{i}", F.lit(None).cast("string"))
                t.append(df)
                nxt += 4
            elif kind == "delete_pred":
                t.delete_where(spark, F.col("id") % 11 == p % 11)
            elif kind == "tag":
                t.tag(f"pin{tagged}", t.versions()[p % len(t.versions())]["version"])
                tagged += 1
            elif kind == "expire":
                t.expire_snapshots(keep_last=1 + p % 3)
            elif kind == "evolve":
                j = copy.deepcopy(t.table_schema().to_json())
                j["fields"].append(
                    {
                        "id": 1000 + n_evolved,
                        "name": f"x{n_evolved}",
                        "type": "string",
                        "required": False,
                    }
                )
                t.evolve_schema(Schema.from_json(j))
                n_evolved += 1
        retained = [e["version"] for e in t.versions()]
        head = retained[-1]
        full = _added_files(t.path, 0, head, "skip")
        assert len(full) == len(set(full)), "bootstrap delivered a file twice"
        for start in range(0, head):
            if start != 0 and start not in retained:
                with pytest.raises(ValueError, match="expired under the consumer"):
                    _added_files(t.path, start, head, "skip")
                continue
            upto = _added_files(t.path, 0, start, "skip")
            delta = _added_files(t.path, start, head, "skip")
            assert len(delta) == len(set(delta))
            assert set(upto) & set(delta) == set(), (
                f"duplicate delivery across checkpoint {start}"
            )
            assert set(upto) | set(delta) == set(full), (
                f"gap in delivery across checkpoint {start}"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- schema-evolution delivery model (round 12, VERDICT r11 task 1) ---------

_EVOLVE_OPS = st.lists(
    st.tuples(
        st.sampled_from(["append", "rename", "add", "widen", "drop"]),
        st.integers(min_value=0, max_value=9),
    ),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ops=_EVOLVE_OPS)
def test_schema_evolution_read_model(spark, ops):
    """Random evolve/append chains against a pure-Python model: after every
    step, the real generation-resolving read must equal the model's view —
    rows keyed by FIELD ID, a field added later surfacing its
    initial-default (or NULL) on pre-existing rows, renamed fields carrying
    their values, widened fields keeping them, dropped fields vanishing.
    This is the whole-feature invariant the per-case unit tests sample."""
    import copy

    from iceberg_evolve_spark.schema import Schema

    tmp = tempfile.mkdtemp(prefix="ies-model-evolve-")
    try:
        t = SnapshotTable(os.path.join(tmp, "t"))
        # model state ---------------------------------------------------
        # fields: ordered [(fid, name, type)]; defaults: {fid: value-or-None
        # for fields ADDED post-bootstrap}; rows: [{fid: value}]
        fields = [(1, "a", "int"), (2, "b", "int")]
        defaults: dict[int, object] = {}
        rows: list[dict] = []
        next_fid, n_added, n_renamed, appended = 3, 0, 0, 0

        def schema_json():
            return {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {
                        "id": fid,
                        "name": name,
                        "type": typ,
                        "required": False,
                        **(
                            {"initial-default": defaults[fid]}
                            if defaults.get(fid) is not None
                            else {}
                        ),
                    }
                    for fid, name, typ in fields
                ],
            }

        def batch(n):
            """DataFrame under the CURRENT schema + its model rows, from
            one shared value generator (value = row counter, strings
            prefixed) — the model and the table can never disagree on
            what was written."""
            nonlocal appended
            data, model_rows, start = [], [], appended
            for i in range(n):
                vals = {
                    fid: (
                        f"s{start + i}" if typ == "string" else start + i
                    )
                    for fid, _name, typ in fields
                }
                data.append(tuple(vals[fid] for fid, _n, _t in fields))
                model_rows.append(vals)
            appended += n
            ddl = ", ".join(
                f"{name} {'bigint' if typ == 'long' else typ}"
                for _fid, name, typ in fields
            )
            df = spark.createDataFrame(data, ddl)
            for _f, name, typ in fields:
                if typ == "int":
                    df = df.withColumn(name, F.col(name).cast("int"))
            return df, model_rows

        df0, rows0 = batch(3)
        t.write(df0, schema=Schema.from_json(schema_json()))
        rows.extend(rows0)

        for kind, p in ops:
            if kind == "append":
                df, model_rows = batch(2)
                t.append(df)
                rows.extend(model_rows)
            elif kind == "rename":
                i = p % len(fields)
                fid, _old, typ = fields[i]
                fields[i] = (fid, f"r{n_renamed}", typ)
                n_renamed += 1
                t.evolve_schema(Schema.from_json(schema_json()))
            elif kind == "add":
                default = f"d{n_added}" if p % 2 else None
                fields.append((next_fid, f"x{n_added}", "string"))
                if default is not None:
                    defaults[next_fid] = default
                next_fid += 1
                n_added += 1
                t.evolve_schema(Schema.from_json(schema_json()))
            elif kind == "widen":
                ints = [i for i, f in enumerate(fields) if f[2] == "int"]
                if not ints:
                    continue
                i = ints[p % len(ints)]
                fields[i] = (fields[i][0], fields[i][1], "long")
                t.evolve_schema(Schema.from_json(schema_json()))
            elif kind == "drop":
                if len(fields) <= 1:
                    continue
                i = p % len(fields)
                dropped_fid = fields[i][0]
                del fields[i]
                defaults.pop(dropped_fid, None)
                t.evolve_schema(
                    Schema.from_json(schema_json()), allow_breaking=True
                )
        # final invariant: the real read == the model, by field id --------
        got = {
            tuple(r[name] for _f, name, _t in fields)
            for r in t.read(spark).collect()
        }
        expect = {
            tuple(row.get(fid, defaults.get(fid)) for fid, _n, _t in fields)
            for row in rows
        }
        assert got == expect
        # and the read schema is exactly the current tracked one
        assert t.read(spark).columns == [name for _f, name, _t in fields]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

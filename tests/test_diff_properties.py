"""Property-based tests for the diff engine (hypothesis).

The reference ships no randomized testing (SURVEY.md §5 layer 4 absence);
these properties pin the diff's algebraic behavior over arbitrary schemas:

1. reflexivity — diff(s, s) is empty;
2. add/drop duality — diff(s, s+f) is exactly one `added`; swap sides →
   exactly one `removed`;
3. rename detection — same ID, new name → exactly one `renamed` (never
   drop+add);
4. move minimality — one displaced field → exactly one `moved`;
5. plan phase order — renames always precede adds/drops, moves come last;
6. exact reporting — on the benchmark generator's nested pairs, both match
   modes report exactly the changes the generator injected (this is what
   guards the diff's skip of equal fields).
"""

import json
import random

from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_evolve_spark.diff import SchemaDiff
from iceberg_evolve_spark.model import Field, PrimitiveType, StructType
from iceberg_evolve_spark.schema import Schema
from perfbench.schema_plan import make_pair

PRIMS = ["string", "int", "long", "float", "double", "boolean", "date", "timestamp", "binary"]


@st.composite
def flat_schemas(draw, min_fields=1, max_fields=8):
    n = draw(st.integers(min_fields, max_fields))
    names = draw(
        st.lists(
            st.text(alphabet="abcdefghij", min_size=1, max_size=6),
            min_size=n, max_size=n, unique=True,
        )
    )
    fields = [
        Field(
            field_id=i + 1,
            name=names[i],
            type=PrimitiveType(draw(st.sampled_from(PRIMS))),
            required=draw(st.booleans()),
            doc=draw(st.one_of(st.none(), st.just("d"))),
        )
        for i in range(n)
    ]
    return StructType(fields)


def kinds(diff):
    return [c.kind for c in diff.added + diff.removed + diff.changed]


@settings(max_examples=60, deadline=None)
@given(flat_schemas())
def test_reflexive_diff_is_empty(s):
    d = SchemaDiff.from_schemas(s, s)
    assert not d.added and not d.removed and not d.changed


@settings(max_examples=60, deadline=None)
@given(flat_schemas(), st.sampled_from(PRIMS))
def test_add_and_drop_are_dual(s, t):
    new_id = max(f.field_id for f in s.fields) + 1
    bigger = StructType(list(s.fields) + [Field(new_id, "zznew", PrimitiveType(t))])
    d = SchemaDiff.from_schemas(s, bigger)
    assert [c.kind for c in d.added] == ["added"] and not d.removed and not d.changed
    d2 = SchemaDiff.from_schemas(bigger, s)
    assert [c.kind for c in d2.removed] == ["removed"] and not d2.added and not d2.changed


@settings(max_examples=60, deadline=None)
@given(flat_schemas(min_fields=2), st.data())
def test_rename_is_never_drop_add(s, data):
    idx = data.draw(st.integers(0, len(s.fields) - 1))
    renamed = [
        Field(f.field_id, "zzrenamed" if i == idx else f.name, f.type, f.required, f.doc)
        for i, f in enumerate(s.fields)
    ]
    d = SchemaDiff.from_schemas(s, StructType(renamed))
    assert not d.added and not d.removed
    assert [c.kind for c in d.changed] == ["renamed"]


@settings(max_examples=60, deadline=None)
@given(flat_schemas(min_fields=3), st.data())
def test_single_displacement_is_one_move(s, data):
    fields = list(s.fields)
    i = data.draw(st.integers(0, len(fields) - 1))
    j = data.draw(st.integers(0, len(fields) - 2))
    f = fields.pop(i)
    if j >= i:
        j += 1  # ensure an actual displacement
    fields.insert(min(j, len(fields)), f)
    if [x.field_id for x in fields] == [x.field_id for x in s.fields]:
        return  # no-op permutation
    d = SchemaDiff.from_schemas(s, StructType(fields))
    moves = [c for c in d.changed if c.kind == "moved"]
    # minimality: one displacement → exactly one move op. WHICH field is
    # flagged is ambiguous ([a,b,c]→[b,a,c] is equally "a after b" or
    # "b first") — the LCS picks either; only the count is a property.
    assert len(moves) == 1
    assert not d.added and not d.removed


@settings(max_examples=40, deadline=None)
@given(flat_schemas(min_fields=3), st.data())
def test_plan_phase_order(s, data):
    # compound mutation: rename one field, drop another, add one, displace one
    fields = list(s.fields)
    ren = data.draw(st.integers(0, len(fields) - 1))
    fields[ren] = Field(
        fields[ren].field_id, "zzren", fields[ren].type, fields[ren].required, fields[ren].doc
    )
    drop = data.draw(st.integers(0, len(fields) - 1).filter(lambda k: k != ren))
    fields.pop(drop)
    fields.append(Field(max(f.field_id for f in s.fields) + 1, "zzadd", PrimitiveType("int")))
    d = SchemaDiff.from_schemas(s, StructType(fields))
    ops = d.to_evolution_operations()
    phase = {"rename_column": 0, "update_column": 1, "add_column": 1, "drop_column": 1, "move_column": 2}
    seq = [phase[op.op_name] for op in ops]
    assert seq == sorted(seq), [op.op_name for op in ops]


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(20, 150), st.sampled_from(["id", "name"]))
def test_generated_pairs_report_exactly_the_injected_changes(seed, width, match_by):
    # Nested structs, lists and maps with renames, retypes, doc/required
    # flips, drops, adds and top-level moves; every other field is equal on
    # both sides, so a diff that skips too much (or too little) miscounts.
    cur_text, new_text, expect = make_pair(random.Random(seed), width, match_by == "name")
    cur, new = Schema.from_json(json.loads(cur_text)), Schema.from_json(json.loads(new_text))
    d = cur.diff(new, match_by=match_by, include_required_changes=match_by == "id")
    counts = dict.fromkeys(expect, 0)
    for c in d.all_changes:
        counts[c.kind] += 1
    assert counts == expect

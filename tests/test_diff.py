"""Diff + planner tests against the golden fixture expectations (FIXTURES.md A.2,
reference tests/test_diff.py semantics)."""

import pytest

from iceberg_evolve_spark.diff import FieldChange, SchemaDiff, minimal_moves
from iceberg_evolve_spark.model import Field, PrimitiveType, StructType
from iceberg_evolve_spark.operators.evolution import (
    AddColumn,
    DropColumn,
    MoveColumn,
    RenameColumn,
    UpdateColumn,
)
from iceberg_evolve_spark.schema import Schema

from conftest import FIXTURES


def _kinds(diff: SchemaDiff) -> dict:
    out = {}
    for c in diff.all_changes:
        out.setdefault(c.kind, []).append(c.path)
    return {k: sorted(v) for k, v in out.items()}


class TestGoldenDiff:
    """users_current → users_new must reproduce the reference's exact change set."""

    @pytest.fixture(scope="class")
    def diff(self, users_current, users_new):
        return SchemaDiff.from_schemas(users_current.struct, users_new.struct)

    def test_added(self, diff):
        assert sorted(c.path for c in diff.added) == ["is_active", "metadata.used_login"]

    def test_removed(self, diff):
        assert sorted(c.path for c in diff.removed) == ["comments", "metadata.browser"]

    def test_renamed(self, diff):
        renames = {c.old.name: c.new.name for c in diff.changed if c.kind == "renamed"}
        assert renames == {"signup": "signup_datetime", "email_address": "email"}

    def test_type_changed(self, diff):
        tc = {c.path for c in diff.changed if c.kind == "type_changed"}
        assert tc == {"signup_datetime", "metadata.login_attempts"}

    def test_moved_minimal(self, diff):
        moves = [c for c in diff.changed if c.kind == "moved"]
        assert len(moves) == 1
        (m,) = moves
        assert m.path == "username"
        assert m.move_position == "after"
        assert m.move_target == "signup_datetime"

    def test_rename_and_retype_same_id(self, users_current):
        """FIXTURES.md A.4: id 3 renamed AND retyped → BOTH changes emitted."""
        changed = Schema.from_file(
            str(FIXTURES / "users_renamed_and_changed.iceberg.json")
        )
        diff = SchemaDiff.from_schemas(users_current.struct, changed.struct)
        kinds = {(c.kind, c.field_id) for c in diff.changed}
        assert ("renamed", 3) in kinds
        assert ("type_changed", 3) in kinds


class TestMinimalMoves:
    def test_swap_flags_exactly_one_move(self):
        # reference tests/test_diff.py:264-310: swapping two adjacent fields
        # must flag exactly one move, not two
        assert len(minimal_moves([1, 2, 3, 4], [1, 3, 2, 4])) == 1

    def test_single_insertion_no_moves(self):
        # an added field changes positions of everything after it, but no
        # *common* field moved
        assert minimal_moves([1, 2, 3], [1, 2, 3]) == []

    def test_move_to_front(self):
        assert minimal_moves([1, 2, 3, 4], [4, 1, 2, 3]) == [4]


class TestEqualParents:
    """Parents that differ only below them are not equal fields: the diff
    must still descend to the change and report its full dotted path."""

    @staticmethod
    def _nested(leaf_type="int", leaf_doc=None):
        leaf = StructType([Field(5, "leaf", PrimitiveType(leaf_type), doc=leaf_doc)])
        c = StructType([Field(4, "c", leaf, doc="same")])
        b = StructType([Field(3, "b", c)])
        return StructType([Field(1, "id", PrimitiveType("long")), Field(2, "a", b)])

    def test_doc_change_three_structs_deep(self):
        diff = SchemaDiff.from_schemas(self._nested(leaf_doc="old"), self._nested(leaf_doc="new"))
        assert _kinds(diff) == {"doc_changed": ["a.b.c.leaf"]}

    def test_union_type_change_three_structs_deep(self):
        diff = SchemaDiff.union_by_name(self._nested("int"), self._nested("long"))
        assert _kinds(diff) == {"type_changed": ["a.b.c.leaf"]}


class TestUnionByName:
    def test_union_candidate_only_adds(self, users_current):
        cand = Schema.from_file(str(FIXTURES / "users_union_candidate.iceberg.json"))
        diff = SchemaDiff.union_by_name(users_current.struct, cand.struct)
        # reference tests/test_diff.py:313-367: both fields added, nothing removed
        assert sorted(c.path for c in diff.added) == ["address_changed", "new_address"]
        assert diff.removed == []
        assert diff.union_by_name_mode

    def test_same_name_different_type_is_type_changed(self):
        a = StructType([Field(1, "x", PrimitiveType("int"))])
        b = StructType([Field(99, "x", PrimitiveType("long"))])
        diff = SchemaDiff.union_by_name(a, b)
        assert [c.kind for c in diff.all_changes] == ["type_changed"]

    def test_union_plan_has_no_drops_or_moves(self, users_current, users_new):
        diff = SchemaDiff.union_by_name(users_current.struct, users_new.struct)
        ops = diff.to_evolution_operations()
        assert not [op for op in ops if isinstance(op, (DropColumn, MoveColumn))]


class TestPlanner:
    """Op ordering: renames → updates → adds → drops → moves (diff.py:270-324)."""

    @pytest.fixture(scope="class")
    def ops(self, users_current, users_new):
        diff = SchemaDiff.from_schemas(users_current.struct, users_new.struct)
        return diff.to_evolution_operations()

    def test_phase_order(self, ops):
        phases = []
        for op in ops:
            p = {
                RenameColumn: 0,
                UpdateColumn: 1,
                AddColumn: 2,
                DropColumn: 3,
                MoveColumn: 4,
            }[type(op)]
            phases.append(p)
        assert phases == sorted(phases)

    def test_golden_plan(self, ops):
        by_type = {}
        for op in ops:
            by_type.setdefault(type(op).__name__, []).append(op.name)
        assert sorted(by_type["RenameColumn"]) == ["email_address", "signup"]
        assert sorted(by_type["UpdateColumn"]) == [
            "metadata.login_attempts",
            "signup_datetime",
        ]
        assert sorted(by_type["AddColumn"]) == ["is_active", "metadata.used_login"]
        assert sorted(by_type["DropColumn"]) == ["comments", "metadata.browser"]
        assert by_type["MoveColumn"] == ["username"]

    def test_nested_update_unsupported(self, ops):
        up = {op.name: op for op in ops if isinstance(op, UpdateColumn)}
        assert up["metadata.login_attempts"].is_supported is False
        assert up["signup_datetime"].is_supported is True

    def test_date_to_timestamp_nonbreaking(self, ops):
        up = {op.name: op for op in ops if isinstance(op, UpdateColumn)}
        assert up["signup_datetime"].is_breaking() is False

    def test_drop_always_breaking(self, ops):
        for op in ops:
            if isinstance(op, DropColumn):
                assert op.is_breaking()

    def test_to_dict_alias_exists(self, ops):
        # reference CLI --json bug (cli.py:59): ops lacked to_dict; we provide it
        for op in ops:
            d = op.to_dict()
            assert d == op.to_serializable_dict()
            assert "op" in d

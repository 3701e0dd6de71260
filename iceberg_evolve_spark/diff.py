"""Schema diffing: the core "planner front-end" of the engine.

Reference surface: ``FieldChange`` / ``SchemaDiff`` (``iceberg_evolve/diff.py``):

* :meth:`SchemaDiff.from_schemas` — by-field-id recursive diff (``diff.py:103-222``):
  added / removed / renamed / type_changed / doc_changed / moved, with dotted paths
  for nested struct fields and top-level-only minimal-move detection.
* :meth:`SchemaDiff.union_by_name` — name-keyed, ID-ignoring merge mode
  (``diff.py:224-268``): only ever *adds* or *retypes*, never removes.
* :meth:`SchemaDiff.to_evolution_operations` — dependency-safe op ordering
  (``diff.py:270-324``): renames → type/doc updates → adds → drops → moves, because a
  move (or nested op) referencing a not-yet-renamed column would fail.

The minimal-move computation (``diff.py:183-208``) uses a longest-common-subsequence
(:class:`difflib.SequenceMatcher`) over the old/new field-ID orders so that a single
insertion doesn't flag every subsequent field as moved.

Beyond reference parity, :meth:`SchemaDiff.from_schemas` can also detect
required/optional flips (``include_required_changes=True``) — the reference silently
ignores these (``SURVEY.md §1.1``); default off for parity.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from difflib import SequenceMatcher
from typing import TYPE_CHECKING

from iceberg_evolve_spark.canonical import clean_type_str, types_equivalent
from iceberg_evolve_spark.model import Field, StructType

if TYPE_CHECKING:
    from iceberg_evolve_spark.operators.evolution import BaseEvolutionOperation


@dataclass(frozen=True)
class FieldChange:
    """One detected difference between two schemas.

    ``kind`` ∈ {added, removed, renamed, type_changed, doc_changed, moved,
    required_changed}. ``path`` is the dotted path in the *new* schema's naming
    (except ``removed``, whose leaf name only exists in the current schema).
    For ``moved``, ``move_target``/``move_position`` describe the new location
    (position ∈ {first, before, after}).
    """

    kind: str
    path: str
    field_id: int | None = None
    old: Field | None = None
    new: Field | None = None
    move_target: str | None = None
    move_position: str | None = None

    def describe(self) -> str:
        if self.kind == "added":
            return f"+ {self.path}: {clean_type_str(self.new.type)}"
        if self.kind == "removed":
            return f"- {self.path}: {clean_type_str(self.old.type)}"
        if self.kind == "renamed":
            return f"~ {self.old.name} -> {self.new.name}"
        if self.kind == "type_changed":
            return (
                f"~ {self.path}: {clean_type_str(self.old.type)}"
                f" -> {clean_type_str(self.new.type)}"
            )
        if self.kind == "doc_changed":
            return f"~ {self.path}: doc changed"
        if self.kind == "required_changed":
            return f"~ {self.path}: required {self.old.required} -> {self.new.required}"
        if self.kind == "moved":
            where = (
                "first" if self.move_position == "first" else f"{self.move_position} {self.move_target}"
            )
            return f"> {self.path}: moved {where}"
        return f"? {self.path}"


def minimal_moves(orig: list[int], new: list[int]) -> list[int]:
    """IDs that must move to turn ``orig`` into ``new`` — the complement of the
    longest common subsequence (reference ``diff.py:183-196``)."""
    matcher = SequenceMatcher(a=orig, b=new, autojunk=False)
    stable: set[int] = set()
    for tag, i1, i2, _j1, _j2 in matcher.get_opcodes():
        if tag == "equal":
            stable.update(orig[i1:i2])
    return [fid for fid in new if fid not in stable]


@dataclass
class SchemaDiff:
    """Three-bucket diff result (reference dataclass ``diff.py:63-76``)."""

    added: list[FieldChange] = dc_field(default_factory=list)
    removed: list[FieldChange] = dc_field(default_factory=list)
    changed: list[FieldChange] = dc_field(default_factory=list)
    union_by_name_mode: bool = False

    @property
    def all_changes(self) -> list[FieldChange]:
        return [*self.added, *self.removed, *self.changed]

    def is_empty(self) -> bool:
        return not (self.added or self.removed or self.changed)

    # ------------------------------------------------------------------
    # By-field-id diff (reference diff.py:103-222)
    # ------------------------------------------------------------------

    @classmethod
    def from_schemas(
        cls,
        current: StructType,
        new: StructType,
        *,
        include_required_changes: bool = False,
    ) -> SchemaDiff:
        diff = cls()
        diff._diff_struct(
            current, new, prefix="", top_level=True,
            include_required_changes=include_required_changes,
        )
        return diff

    def _diff_struct(
        self,
        current: StructType,
        new: StructType,
        prefix: str,
        top_level: bool,
        include_required_changes: bool,
    ) -> None:
        cur_by_id = {f.field_id: f for f in current.fields}
        new_by_id = {f.field_id: f for f in new.fields}

        # added: IDs present only in new
        for f in new.fields:
            if f.field_id not in cur_by_id:
                self.added.append(
                    FieldChange("added", f"{prefix}{f.name}", f.field_id, new=f)
                )

        # removed: IDs present only in current
        for f in current.fields:
            if f.field_id not in new_by_id:
                self.removed.append(
                    FieldChange("removed", f"{prefix}{f.name}", f.field_id, old=f)
                )

        # common IDs: rename / retype / doc / recurse
        for fid, cur_f in cur_by_id.items():
            new_f = new_by_id.get(fid)
            if new_f is None:
                continue
            path = f"{prefix}{new_f.name}"  # renames apply first, so use new names
            if cur_f.name != new_f.name:
                self.changed.append(
                    FieldChange("renamed", path, fid, old=cur_f, new=new_f)
                )
            both_structs = isinstance(cur_f.type, StructType) and isinstance(
                new_f.type, StructType
            )
            if both_structs:
                self._diff_struct(
                    cur_f.type,
                    new_f.type,
                    prefix=f"{path}.",
                    top_level=False,
                    include_required_changes=include_required_changes,
                )
            elif not types_equivalent(cur_f.type, new_f.type):
                self.changed.append(
                    FieldChange("type_changed", path, fid, old=cur_f, new=new_f)
                )
            if (cur_f.doc or None) != (new_f.doc or None):
                self.changed.append(
                    FieldChange("doc_changed", path, fid, old=cur_f, new=new_f)
                )
            if include_required_changes and cur_f.required != new_f.required:
                self.changed.append(
                    FieldChange("required_changed", path, fid, old=cur_f, new=new_f)
                )

        # moves: top-level only (reference diff.py:181-208)
        if top_level:
            common = set(cur_by_id) & set(new_by_id)
            orig_order = [f.field_id for f in current.fields if f.field_id in common]
            new_order = [f.field_id for f in new.fields if f.field_id in common]
            moved_ids = minimal_moves(orig_order, new_order)
            # Describe each move by its predecessor in the full new-schema order.
            new_pos: dict[int, int] = {}
            for i, f in enumerate(new.fields):
                new_pos.setdefault(f.field_id, i)  # first occurrence, as list.index
            for fid in moved_ids:
                new_f = new_by_id[fid]
                idx = new_pos[fid]
                if idx == 0:
                    target, position = None, "first"
                else:
                    target = new.fields[idx - 1].name
                    position = "after"
                self.changed.append(
                    FieldChange(
                        "moved",
                        new_f.name,
                        fid,
                        old=cur_by_id[fid],
                        new=new_f,
                        move_target=target,
                        move_position=position,
                    )
                )

    # ------------------------------------------------------------------
    # Union-by-name (reference diff.py:224-268)
    # ------------------------------------------------------------------

    @classmethod
    def union_by_name(cls, current: StructType, new: StructType) -> SchemaDiff:
        """Name-keyed merge diff: fields only in ``new`` are added; same-name
        different-type fields are type_changed; nothing is ever removed."""
        diff = cls(union_by_name_mode=True)
        diff._union_struct(current, new, prefix="")
        return diff

    def _union_struct(self, current: StructType, new: StructType, prefix: str) -> None:
        cur_by_name = {f.name: f for f in current.fields}
        for f in new.fields:
            path = f"{prefix}{f.name}"
            cur_f = cur_by_name.get(f.name)
            if cur_f is None:
                self.added.append(FieldChange("added", path, f.field_id, new=f))
            elif isinstance(cur_f.type, StructType) and isinstance(f.type, StructType):
                self._union_struct(cur_f.type, f.type, prefix=f"{path}.")
            elif not types_equivalent(cur_f.type, f.type):
                self.changed.append(
                    FieldChange("type_changed", path, cur_f.field_id, old=cur_f, new=f)
                )

    # ------------------------------------------------------------------
    # Planner (reference diff.py:270-324)
    # ------------------------------------------------------------------

    def to_evolution_operations(self) -> list["BaseEvolutionOperation"]:
        """Order changes into a dependency-safe op list: ① renames ② type/doc
        updates ③ adds ④ drops ⑤ moves. Rationale (reference ``diff.py:274-280``):
        later ops reference columns by their *new* names, so renames commit first;
        moves go last so their ``AFTER x`` targets already exist."""
        from iceberg_evolve_spark.operators.evolution import (
            AddColumn,
            DropColumn,
            MoveColumn,
            RenameColumn,
            SetNullability,
            UpdateColumn,
        )

        renames: list[BaseEvolutionOperation] = []
        updates: list[BaseEvolutionOperation] = []
        adds: list[BaseEvolutionOperation] = []
        drops: list[BaseEvolutionOperation] = []
        moves: list[BaseEvolutionOperation] = []

        # merge type_changed + doc_changed per path into one UpdateColumn
        type_changed = {c.path: c for c in self.changed if c.kind == "type_changed"}
        doc_changed = {c.path: c for c in self.changed if c.kind == "doc_changed"}

        for c in self.changed:
            if c.kind == "renamed":
                # the rename DDL refers to the column's dotted path under its OLD
                # leaf name (parent segments use new names — parents rename after
                # children in no case here since we emit per-field renames).
                parent, _, _leaf = c.path.rpartition(".")
                old_path = f"{parent}.{c.old.name}" if parent else c.old.name
                renames.append(RenameColumn(name=old_path, target=c.new.name))

        emitted_docs: set[str] = set()
        for path, c in type_changed.items():
            doc = None
            if path in doc_changed:
                doc = doc_changed[path].new.doc
                emitted_docs.add(path)
            updates.append(
                UpdateColumn(
                    name=path,
                    current_type=c.old.type,
                    new_type=c.new.type,
                    doc=doc,
                )
            )
        for path, c in doc_changed.items():
            if path not in emitted_docs:
                updates.append(
                    UpdateColumn(
                        name=path,
                        current_type=c.old.type,
                        new_type=c.new.type,
                        doc=c.new.doc,
                    )
                )
        # required/optional flips (only present when the diff ran with
        # include_required_changes=True) compile in the update phase too —
        # they reference post-rename names like every other update.
        for c in self.changed:
            if c.kind == "required_changed":
                updates.append(
                    SetNullability(name=c.path, required=c.new.required)
                )

        for c in self.added:
            adds.append(
                AddColumn(
                    name=c.path,
                    new_type=c.new.type,
                    doc=c.new.doc,
                    # Iceberg v3 default values ride the plan: migration fills
                    # existing rows with initial_default, DDL emits the write
                    # default (see operators/evolution.py:AddColumn).
                    initial_default=c.new.initial_default,
                    write_default=c.new.write_default,
                )
            )

        if not self.union_by_name_mode:
            for c in self.removed:
                drops.append(DropColumn(name=c.path))
            for c in self.changed:
                if c.kind == "moved":
                    moves.append(
                        MoveColumn(
                            name=c.path,
                            target=c.move_target,
                            position=c.move_position,
                        )
                    )

        return [*renames, *updates, *adds, *drops, *moves]

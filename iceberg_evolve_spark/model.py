"""Schema model: an Iceberg-style typed tree of named fields with stable integer IDs.

This is the single data abstraction of the core engine (reference data model:
``iceberg_evolve/schema.py:73-95`` wrapping PyIceberg's ``Schema`` of ``NestedField``).
We own the model instead of depending on PyIceberg so that (a) the diff/planner core is
a pure-Python library with zero heavyweight deps and (b) field IDs — which Spark's
``StructType`` lacks — live in one place and survive round-trips.

Identity is by **field ID, not name**: the diff algorithm (see ``diff.py``) keys every
comparison on ``Field.field_id``, which is what distinguishes a *rename* (same ID, new
name) from a *drop + add* (ID disappears / appears). This mirrors the load-bearing
design decision of the reference (``diff.py:131, 175-177, 215-220``).

Supported types (reference ``utils.py:26-40``): string, int, long, float, double,
boolean, date, time, timestamp, binary, decimal(p, s), struct, list, map.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field, replace
from typing import Iterator, Union

# ---------------------------------------------------------------------------
# Type algebra
# ---------------------------------------------------------------------------

#: Canonical primitive type names (reference parse table ``utils.py:26-40``).
PRIMITIVE_NAMES = frozenset(
    {
        "string",
        "int",
        "long",
        "float",
        "double",
        "boolean",
        "date",
        "time",
        "timestamp",
        "binary",
    }
)

#: Accepted aliases → canonical name.
PRIMITIVE_ALIASES = {
    "integer": "int",
    "bool": "boolean",
    "str": "string",
    "bigint": "long",
}

_DECIMAL_RE = re.compile(r"^decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$")


@dataclass(frozen=True)
class PrimitiveType:
    """A primitive Iceberg type, canonical by name."""

    name: str

    def __post_init__(self) -> None:
        canonical = PRIMITIVE_ALIASES.get(self.name, self.name)
        if canonical not in PRIMITIVE_NAMES:
            raise ValueError(f"Unknown primitive type: {self.name!r}")
        object.__setattr__(self, "name", canonical)

    @property
    def is_primitive(self) -> bool:
        return True

    def __str__(self) -> str:
        return self.name


@dataclass(frozen=True)
class DecimalType:
    """decimal(precision, scale) — serialized as the string ``"decimal(p, s)"``
    (reference ``json_serializer.py:113-114``)."""

    precision: int
    scale: int

    @property
    def is_primitive(self) -> bool:
        return True

    @property
    def name(self) -> str:
        return f"decimal({self.precision}, {self.scale})"

    def __str__(self) -> str:
        return self.name


@dataclass(frozen=True)
class Field:
    """A named, typed, ID'd field (reference: PyIceberg ``NestedField``).

    ``required`` is nullability (inverted vs Spark's ``nullable``); ``doc`` is the
    field docstring. Both are carried and serialized; the reference diffs ``doc`` but
    silently ignores ``required`` flips (``SURVEY.md §1.1``) — we diff both, with the
    required-flip emission controllable for reference parity (see ``diff.py``).

    ``initial_default`` / ``write_default`` are the Iceberg **v3 default values**
    (spec: ``initial-default`` is the value EXISTING rows take when the column is
    added — metadata-only backfill; ``write-default`` is what future writes use
    when the column is omitted). The reference predates v3 and carries neither;
    here the planner forwards them onto :class:`~.operators.evolution.AddColumn`
    and the DataFrame migrator fills added columns with ``initial_default``
    instead of NULL (see ``operators/migrate_df.py``). JSON keys:
    ``initial-default`` / ``write-default``, omitted when unset.
    """

    field_id: int
    name: str
    type: IcebergType
    required: bool = False
    doc: str | None = None
    initial_default: object = None
    write_default: object = None

    def with_type(self, new_type: IcebergType) -> Field:
        return replace(self, type=new_type)


@dataclass(frozen=True)
class StructType:
    """An ordered collection of fields."""

    fields: tuple[Field, ...]

    def __init__(self, fields) -> None:  # accept any iterable
        object.__setattr__(self, "fields", tuple(fields))

    @property
    def is_primitive(self) -> bool:
        return False

    def field_by_id(self, field_id: int) -> Field | None:
        for f in self.fields:
            if f.field_id == field_id:
                return f
        return None

    def field_by_name(self, name: str) -> Field | None:
        for f in self.fields:
            if f.name == name:
                return f
        return None

    def __str__(self) -> str:
        inner = ", ".join(f"{f.name}: {f.type}" for f in self.fields)
        return f"struct<{inner}>"


@dataclass(frozen=True)
class ListType:
    """list<element> with an element ID and element nullability
    (Iceberg JSON keys ``element-id`` / ``element-required``)."""

    element_id: int
    element: IcebergType
    element_required: bool = False

    @property
    def is_primitive(self) -> bool:
        return False

    def __str__(self) -> str:
        return f"list<{self.element}>"


@dataclass(frozen=True)
class MapType:
    """map<key, value> with key/value IDs and value nullability
    (Iceberg JSON keys ``key-id`` / ``value-id`` / ``value-required``)."""

    key_id: int
    key: IcebergType
    value_id: int
    value: IcebergType
    value_required: bool = False

    @property
    def is_primitive(self) -> bool:
        return False

    def __str__(self) -> str:
        return f"map<{self.key}, {self.value}>"


IcebergType = Union[PrimitiveType, DecimalType, StructType, ListType, MapType]

#: Every canonical primitive name and alias → one shared, frozen instance.
#: Parsers look type strings up here so a schema of N leaves holds a handful
#: of primitive objects, not N. Built once at import and never mutated;
#: decimals are not in it (they are parameterized and built on demand).
PRIMITIVE_TYPES: dict[str, PrimitiveType] = {n: PrimitiveType(n) for n in sorted(PRIMITIVE_NAMES)}
PRIMITIVE_TYPES.update({a: PRIMITIVE_TYPES[c] for a, c in PRIMITIVE_ALIASES.items()})


# ---------------------------------------------------------------------------
# ID allocation
# ---------------------------------------------------------------------------


@dataclass
class IDAllocator:
    """Monotonically increasing field-ID source for freshly parsed schemas
    (reference ``utils.py:149-155``)."""

    next_id: int = 1

    def allocate(self) -> int:
        out = self.next_id
        self.next_id += 1
        return out


# ---------------------------------------------------------------------------
# Tree helpers
# ---------------------------------------------------------------------------


def iter_fields(
    struct: StructType, prefix: str = ""
) -> Iterator[tuple[str, Field]]:
    """Yield ``(dotted_path, field)`` for every field, depth-first.

    Nested struct fields get dotted paths ``parent.child`` (reference diff recursion,
    ``diff.py:169-180``). List/map element types are not descended into — matching the
    reference, which treats a list/map as a single leaf type.
    """
    for f in struct.fields:
        path = f"{prefix}{f.name}"
        yield path, f
        if isinstance(f.type, StructType):
            yield from iter_fields(f.type, prefix=f"{path}.")


def max_field_id(t: IcebergType) -> int:
    """Highest field ID used anywhere in the type tree (0 if none)."""
    if isinstance(t, StructType):
        out = 0
        for f in t.fields:
            out = max(out, f.field_id, max_field_id(f.type))
        return out
    if isinstance(t, ListType):
        return max(t.element_id, max_field_id(t.element))
    if isinstance(t, MapType):
        return max(t.key_id, t.value_id, max_field_id(t.key), max_field_id(t.value))
    return 0


def primitive(name: str) -> PrimitiveType:
    """The shared instance for a primitive name or alias; unknown names raise
    ``ValueError`` like :class:`PrimitiveType` does."""
    return PRIMITIVE_TYPES.get(name) or PrimitiveType(name)


def parse_decimal(s: str) -> DecimalType | None:
    """Parse ``"decimal(p, s)"`` strings (reference regex at ``utils.py:66-68``)."""
    m = _DECIMAL_RE.match(s.strip())
    if not m:
        return None
    return DecimalType(int(m.group(1)), int(m.group(2)))

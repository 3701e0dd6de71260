"""SQL-ish type-string parsing: ``"struct<foo: string, bar: int>"`` → model types.

Reference surface: ``parse_sql_type`` / ``parse_sql_type_with_ids``
(``iceberg_evolve/utils.py:62-110``) with a bracket-depth-aware splitter
(``split_top_level``, ``utils.py:43-60``); fresh field IDs come from an
:class:`IDAllocator` (``utils.py:149-155``).

Accepted syntax (case-insensitive type keywords, whitespace-tolerant)::

    string | int | integer | long | float | double | boolean | bool
    date | time | timestamp | binary | decimal(p, s)
    struct<name: type, ...>      array<type> | list<type>      map<ktype, vtype>
"""

from __future__ import annotations

from iceberg_evolve_spark.exceptions import SchemaParseError
from iceberg_evolve_spark.model import (
    Field,
    IcebergType,
    IDAllocator,
    ListType,
    MapType,
    PRIMITIVE_TYPES,
    StructType,
    parse_decimal,
)

_SOURCE = "<sql-type>"


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` only at bracket depth 0 (angle brackets and parens)."""
    parts: list[str] = []
    depth = 0
    current: list[str] = []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(current).strip())
            current = []
        else:
            current.append(ch)
    tail = "".join(current).strip()
    if tail:
        parts.append(tail)
    return parts


def parse_sql_type(type_str: str, allocator: IDAllocator | None = None) -> IcebergType:
    """Parse a SQL-ish type string; nested fields get fresh IDs from ``allocator``."""
    allocator = allocator or IDAllocator()
    s = type_str.strip()
    lower = s.lower()

    prim = PRIMITIVE_TYPES.get(lower)
    if prim is not None:
        return prim
    dec = parse_decimal(lower)
    if dec is not None:
        return dec

    if lower.startswith("struct<") and s.endswith(">"):
        inner = s[len("struct<") : -1]
        fields = []
        for part in split_top_level(inner):
            if ":" not in part:
                raise SchemaParseError(_SOURCE, f"struct field missing ':' in {part!r}")
            name, _, tstr = part.partition(":")
            fid = allocator.allocate()
            fields.append(
                Field(
                    field_id=fid,
                    name=name.strip(),
                    type=parse_sql_type(tstr, allocator),
                    required=False,
                )
            )
        return StructType(fields)

    for kw in ("array<", "list<"):
        if lower.startswith(kw) and s.endswith(">"):
            inner = s[len(kw) : -1]
            eid = allocator.allocate()
            return ListType(element_id=eid, element=parse_sql_type(inner, allocator))

    if lower.startswith("map<") and s.endswith(">"):
        inner = s[len("map<") : -1]
        parts = split_top_level(inner)
        if len(parts) != 2:
            raise SchemaParseError(_SOURCE, f"map type needs exactly 2 args: {type_str!r}")
        kid = allocator.allocate()
        vid = allocator.allocate()
        return MapType(
            key_id=kid,
            key=parse_sql_type(parts[0], allocator),
            value_id=vid,
            value=parse_sql_type(parts[1], allocator),
        )

    raise SchemaParseError(_SOURCE, f"unsupported type string {type_str!r}")

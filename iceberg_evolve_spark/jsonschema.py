"""JSON Schema (draft-style) ⇄ Iceberg model conversion.

Forward direction (reference ``convert_json_to_iceberg_field``,
``iceberg_evolve/utils.py:158-258``):

* ``{"type": "object", "properties": {...}, "required": [...]}`` → struct
* ``{"type": "object", "additionalProperties": {<spec>}}`` → ``map<string, V>``
* ``{"type": "array", "items": {...}}`` → list
* nonstandard ``{"type": "map", "properties": {"key": ..., "value": ...}}`` → map
* primitives: string/integer/number/boolean, with ``format`` hints
  (``date-time`` → timestamp, ``date`` → date)

Reverse (lossy) direction (reference ``catalog.py:3-44``): Iceberg model →
JSON-schema-style dict with the reference's type map (int/long → "integer",
float/double → "number", date/timestamp → "string", ...).
"""

from __future__ import annotations

from typing import Any

from iceberg_evolve_spark.exceptions import SchemaParseError
from iceberg_evolve_spark.model import (
    DecimalType,
    Field,
    IcebergType,
    IDAllocator,
    ListType,
    MapType,
    PRIMITIVE_TYPES,
    PrimitiveType,
    StructType,
)

_SOURCE = "<json-schema>"

_JSON_PRIMITIVES = {
    "string": "string",
    "integer": "int",
    "number": "double",
    "boolean": "boolean",
}

_FORMAT_OVERRIDES = {
    ("string", "date-time"): "timestamp",
    ("string", "date"): "date",
    ("string", "time"): "time",
    ("string", "binary"): "binary",
    ("integer", "int64"): "long",
    ("number", "float"): "float",
}


def convert_json_schema_type(spec: dict[str, Any], allocator: IDAllocator) -> IcebergType:
    """Convert one JSON-schema type spec to an Iceberg type, allocating fresh IDs."""
    jtype = spec.get("type")
    if jtype == "object":
        if "properties" in spec:
            required = set(spec.get("required", []))
            fields = [
                convert_json_property(name, sub, allocator, name in required)
                for name, sub in spec["properties"].items()
            ]
            return StructType(fields)
        if "additionalProperties" in spec and isinstance(spec["additionalProperties"], dict):
            kid = allocator.allocate()
            vid = allocator.allocate()
            return MapType(
                key_id=kid,
                key=PRIMITIVE_TYPES["string"],
                value_id=vid,
                value=convert_json_schema_type(spec["additionalProperties"], allocator),
            )
        raise SchemaParseError(_SOURCE, "object without properties/additionalProperties")
    if jtype == "array":
        if "items" not in spec:
            raise SchemaParseError(_SOURCE, "array missing 'items'")
        eid = allocator.allocate()
        return ListType(element_id=eid, element=convert_json_schema_type(spec["items"], allocator))
    if jtype == "map":
        # Nonstandard flavor: key/value under properties (reference utils.py:228-247).
        props = spec.get("properties", {})
        if "key" not in props or "value" not in props:
            raise SchemaParseError(_SOURCE, "'map' type needs key/value properties")
        kid = allocator.allocate()
        vid = allocator.allocate()
        return MapType(
            key_id=kid,
            key=convert_json_schema_type(props["key"], allocator),
            value_id=vid,
            value=convert_json_schema_type(props["value"], allocator),
        )
    if isinstance(jtype, str):
        fmt = spec.get("format")
        name = (_FORMAT_OVERRIDES.get((jtype, fmt)) if fmt else None) or _JSON_PRIMITIVES.get(jtype)
        if name:
            return PRIMITIVE_TYPES[name]
    raise SchemaParseError(_SOURCE, f"unsupported JSON-schema type {jtype!r}")


def convert_json_property(
    name: str, spec: dict[str, Any], allocator: IDAllocator, required: bool
) -> Field:
    fid = allocator.allocate()
    return Field(
        field_id=fid,
        name=name,
        type=convert_json_schema_type(spec, allocator),
        required=required,
        doc=spec.get("description"),
    )


def struct_from_json_schema(doc: dict[str, Any], allocator: IDAllocator | None = None) -> StructType:
    """Top-level JSON Schema document → struct."""
    allocator = allocator or IDAllocator()
    t = convert_json_schema_type(doc, allocator)
    if not isinstance(t, StructType):
        raise SchemaParseError(_SOURCE, "top-level JSON schema must be an object with properties")
    return t


# ---------------------------------------------------------------------------
# Reverse (lossy) direction — reference catalog.py type map
# ---------------------------------------------------------------------------

_ICEBERG_TO_JSON = {
    "string": "string",
    "int": "integer",
    "long": "integer",
    "float": "number",
    "double": "number",
    "boolean": "boolean",
    "date": "string",
    "time": "string",
    "timestamp": "string",
    "binary": "string",
}


def type_to_json_schema(t: IcebergType) -> dict[str, Any]:
    if isinstance(t, DecimalType):
        return {"type": "number"}
    if isinstance(t, PrimitiveType):
        return {"type": _ICEBERG_TO_JSON[t.name]}
    if isinstance(t, StructType):
        return struct_to_json_schema(t)
    if isinstance(t, ListType):
        return {"type": "array", "items": type_to_json_schema(t.element)}
    if isinstance(t, MapType):
        return {"type": "object", "additionalProperties": type_to_json_schema(t.value)}
    raise TypeError(f"not an IcebergType: {t!r}")


def struct_to_json_schema(struct: StructType) -> dict[str, Any]:
    """Iceberg struct → JSON-schema-style dict (reference ``catalog.py:16-44``)."""
    return {
        "type": "object",
        "properties": {f.name: type_to_json_schema(f.type) for f in struct.fields},
        "required": [f.name for f in struct.fields if f.required],
    }

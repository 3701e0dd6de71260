"""Iceberg metadata-JSON ⇄ schema model.

The canonical wire format (documented in the reference serializer docstring,
``iceberg_evolve/serializer/json_serializer.py:19-71``)::

    {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": true, "type": "string"},
        {"id": 5, "name": "meta", "required": false, "type":
            {"type": "struct", "fields": [...]}},
        {"id": 9, "name": "tags", "required": false, "type":
            {"type": "list", "element-id": 10, "element": "string",
             "element-required": false}},
        {"id": 11, "name": "attrs", "required": false, "type":
            {"type": "map", "key-id": 12, "key": "string",
             "value-id": 13, "value": "int", "value-required": false}}
    ]}

Decimals serialize as the string ``"decimal(p, s)"`` (reference
``json_serializer.py:113-114``). Unknown types raise :class:`SchemaParseError`
(parse path: reference ``json_serializer.py:124-175``; write path ``:72-122``).

Primitive type strings parse to the shared, immutable instances of
:data:`~.model.PRIMITIVE_TYPES` (one dict lookup per leaf, no construction);
only a miss there is tried as ``decimal(p, s)``.
"""

from __future__ import annotations

from typing import Any

from iceberg_evolve_spark.exceptions import SchemaParseError
from iceberg_evolve_spark.model import (
    DecimalType,
    Field,
    IcebergType,
    ListType,
    MapType,
    PRIMITIVE_TYPES,
    PrimitiveType,
    StructType,
    parse_decimal,
)

_SOURCE = "<iceberg-json>"
_MISSING = object()


def type_from_json(obj: Any, source: str = _SOURCE) -> IcebergType:
    """Parse a type descriptor: a primitive/decimal string or a nested dict."""
    if isinstance(obj, str):
        prim = PRIMITIVE_TYPES.get(obj)
        if prim is not None:
            return prim
        dec = parse_decimal(obj)
        if dec is not None:
            return dec
        raise SchemaParseError(source, f"unknown type string {obj!r}")
    if not isinstance(obj, dict):
        raise SchemaParseError(source, f"type descriptor must be str or dict, got {type(obj).__name__}")
    kind = obj.get("type")
    if kind == "struct":
        if "fields" not in obj:
            raise SchemaParseError(source, "struct type missing 'fields'")
        return StructType([field_from_json(f, source) for f in obj["fields"]])
    if kind == "list":
        if "element-id" not in obj:
            raise SchemaParseError(source, "list type missing 'element-id'")
        if "element" not in obj:
            raise SchemaParseError(source, "list type missing 'element'")
        return ListType(
            element_id=int(obj["element-id"]),
            element=type_from_json(obj["element"], source),
            element_required=bool(obj.get("element-required", False)),
        )
    if kind == "map":
        for key in ("key-id", "key", "value-id", "value"):
            if key not in obj:
                raise SchemaParseError(source, f"map type missing {key!r}")
        return MapType(
            key_id=int(obj["key-id"]),
            key=type_from_json(obj["key"], source),
            value_id=int(obj["value-id"]),
            value=type_from_json(obj["value"], source),
            value_required=bool(obj.get("value-required", False)),
        )
    raise SchemaParseError(source, f"unknown complex type {kind!r}")


def field_from_json(obj: Any, source: str = _SOURCE) -> Field:
    if not isinstance(obj, dict):
        raise SchemaParseError(source, f"field must be a dict, got {type(obj).__name__}")
    get = obj.get
    fid, name, ftype = get("id", _MISSING), get("name", _MISSING), get("type", _MISSING)
    if fid is _MISSING:
        raise SchemaParseError(source, f"field {get('name')!r} missing 'id'")
    if name is _MISSING:
        raise SchemaParseError(source, f"field id={fid!r} missing 'name'")
    if ftype is _MISSING:
        raise SchemaParseError(source, f"field {name!r} missing 'type'")
    fid, name = int(fid), str(name)
    # A str leaf is almost always a primitive: skip the type_from_json call.
    type_ = PRIMITIVE_TYPES.get(ftype) if ftype.__class__ is str else None
    return Field(
        fid,
        name,
        type_ or type_from_json(ftype, source),
        bool(get("required", False)),
        get("doc"),
        # Iceberg v3 default values (spec keys: initial-default/write-default)
        get("initial-default"),
        get("write-default"),
    )


def schema_from_json(data: Any, source: str = _SOURCE) -> tuple[StructType, int]:
    """Parse a top-level schema document → ``(struct, schema_id)``."""
    if not isinstance(data, dict):
        raise SchemaParseError(source, "schema document must be a JSON object")
    if data.get("type") != "struct":
        raise SchemaParseError(source, f"top-level type must be 'struct', got {data.get('type')!r}")
    if "fields" not in data:
        raise SchemaParseError(source, "schema missing 'fields'")
    struct = StructType([field_from_json(f, source) for f in data["fields"]])
    return struct, int(data.get("schema-id", 0))


# ---------------------------------------------------------------------------
# Write path
# ---------------------------------------------------------------------------


def type_to_json(t: IcebergType) -> Any:
    if isinstance(t, PrimitiveType):
        return t.name
    if isinstance(t, DecimalType):
        return f"decimal({t.precision}, {t.scale})"
    if isinstance(t, StructType):
        return {"type": "struct", "fields": [field_to_json(f) for f in t.fields]}
    if isinstance(t, ListType):
        return {
            "type": "list",
            "element-id": t.element_id,
            "element": type_to_json(t.element),
            "element-required": t.element_required,
        }
    if isinstance(t, MapType):
        return {
            "type": "map",
            "key-id": t.key_id,
            "key": type_to_json(t.key),
            "value-id": t.value_id,
            "value": type_to_json(t.value),
            "value-required": t.value_required,
        }
    raise TypeError(f"not an IcebergType: {t!r}")


def field_to_json(f: Field) -> dict[str, Any]:
    out: dict[str, Any] = {
        "id": f.field_id,
        "name": f.name,
        "required": f.required,
        "type": type_to_json(f.type),
    }
    if f.doc is not None:
        out["doc"] = f.doc
    if f.initial_default is not None:
        out["initial-default"] = f.initial_default
    if f.write_default is not None:
        out["write-default"] = f.write_default
    return out


def schema_to_json(struct: StructType, schema_id: int = 0) -> dict[str, Any]:
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": [field_to_json(f) for f in struct.fields],
    }

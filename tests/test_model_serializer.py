"""Model + serializer tests (reference test_serializer.py / test_utils.py semantics)."""

import json

import pytest

from iceberg_evolve_spark.exceptions import SchemaParseError
from iceberg_evolve_spark.model import (
    PRIMITIVE_ALIASES,
    PRIMITIVE_NAMES,
    DecimalType,
    Field,
    IDAllocator,
    ListType,
    MapType,
    PrimitiveType,
    StructType,
    parse_decimal,
)
from iceberg_evolve_spark.serializer import (
    schema_from_json,
    schema_to_json,
    type_from_json,
    type_to_json,
)
from iceberg_evolve_spark.sqltypes import parse_sql_type, split_top_level

from conftest import load_fixture


class TestPrimitives:
    def test_aliases(self):
        assert PrimitiveType("integer").name == "int"
        assert PrimitiveType("bool").name == "boolean"
        assert PrimitiveType("integer") == PrimitiveType("int")

    def test_unknown_raises(self):
        with pytest.raises(ValueError):
            PrimitiveType("not_a_type")

    def test_decimal_parse(self):
        assert parse_decimal("decimal(5, 2)") == DecimalType(5, 2)
        assert parse_decimal("decimal(38,10)") == DecimalType(38, 10)
        assert parse_decimal("decimal") is None


class TestIcebergJsonRoundTrip:
    def test_fixture_round_trip(self):
        data = load_fixture("users_current.iceberg.json")
        struct, schema_id = schema_from_json(data)
        assert schema_id == 0
        out = schema_to_json(struct, schema_id)
        assert out == data

    def test_all_fixtures_parse(self):
        for name in (
            "users_current.iceberg.json",
            "users_new.iceberg.json",
            "users_renamed.iceberg.json",
            "users_renamed_and_changed.iceberg.json",
            "users_union_candidate.iceberg.json",
        ):
            struct, _ = schema_from_json(load_fixture(name))
            assert len(struct.fields) > 0

    def test_decimal_serializes_as_string(self):
        assert type_to_json(DecimalType(5, 2)) == "decimal(5, 2)"
        assert type_from_json("decimal(5, 2)") == DecimalType(5, 2)

    def test_nested_types(self):
        t = type_from_json(
            {
                "type": "map",
                "key-id": 1,
                "key": "string",
                "value-id": 2,
                "value": {"type": "list", "element-id": 3, "element": "int"},
                "value-required": True,
            }
        )
        assert isinstance(t, MapType)
        assert t.value_required is True
        assert isinstance(t.value, ListType)
        assert type_from_json(type_to_json(t)) == t

    def test_primitives_are_shared(self):
        assert type_from_json("integer") is type_from_json("int")
        struct, _ = schema_from_json(
            {"type": "struct", "fields": [
                {"id": 1, "name": "a", "type": "long"},
                {"id": 2, "name": "b", "type": "bigint"},
            ]}
        )
        assert struct.fields[0].type is struct.fields[1].type

    def test_aliases_parse_to_canonical_names(self):
        for alias, canonical in PRIMITIVE_ALIASES.items():
            assert type_from_json(alias).name == canonical
            assert type_from_json(alias) is type_from_json(canonical)
        for name in PRIMITIVE_NAMES:
            assert type_from_json(name) == PrimitiveType(name)

    def test_nested_v3_schema_round_trip(self):
        s = StructType([
            Field(1, "id", PrimitiveType("long"), required=True, doc="key"),
            Field(2, "price", DecimalType(10, 2), initial_default="0.00", write_default="1.50"),
            Field(3, "tags", ListType(4, DecimalType(38, 0), element_required=True)),
            Field(5, "attrs", MapType(6, PrimitiveType("string"), 7, StructType([
                Field(8, "n", PrimitiveType("int"), initial_default=0, write_default=7),
                Field(9, "on", PrimitiveType("boolean"), required=True, write_default=True),
            ]), value_required=True)),
            Field(10, "events", ListType(11, StructType([
                Field(12, "at", PrimitiveType("timestamp"), doc="when"),
            ]))),
        ])
        assert schema_from_json(schema_to_json(s, 4)) == (s, 4)

    # Malformed inputs (FIXTURES.md A.7 / reference test_integration.py:246-279).
    # Exact messages: which check fires first is part of the contract.
    @staticmethod
    def _message(fn, arg) -> str:
        with pytest.raises(SchemaParseError) as exc:
            fn(arg)
        return str(exc.value).removeprefix("Failed to parse schema from '<iceberg-json>': ")

    @staticmethod
    def _fields(*fields) -> dict:
        return {"type": "struct", "fields": list(fields)}

    def test_unknown_type_string_raises(self):
        assert self._message(type_from_json, "not_a_type") == "unknown type string 'not_a_type'"
        # no strip before the primitive lookup
        assert self._message(type_from_json, " int") == "unknown type string ' int'"

    def test_uuid_unsupported(self):
        assert self._message(type_from_json, "uuid") == "unknown type string 'uuid'"

    def test_field_missing_id_raises(self):
        f = self._fields
        assert self._message(schema_from_json, f({"name": "x", "type": "string"})) == "field 'x' missing 'id'"
        assert self._message(schema_from_json, f({"type": "string"})) == "field None missing 'id'"
        assert self._message(schema_from_json, f({})) == "field None missing 'id'"

    def test_field_missing_name_raises(self):
        f = self._fields
        assert self._message(schema_from_json, f({"id": 1, "type": "string"})) == "field id=1 missing 'name'"
        assert self._message(schema_from_json, f({"id": 1})) == "field id=1 missing 'name'"

    def test_field_missing_type_raises(self):
        assert self._message(schema_from_json, self._fields({"id": 1, "name": "x"})) == "field 'x' missing 'type'"

    def test_non_dict_field_raises(self):
        assert self._message(schema_from_json, self._fields("x")) == "field must be a dict, got str"

    def test_schema_missing_fields_raises(self):
        assert self._message(schema_from_json, {"type": "struct"}) == "schema missing 'fields'"

    def test_list_missing_element_id_raises(self):
        msg = self._message(type_from_json, {"type": "list", "element": "int"})
        assert msg == "list type missing 'element-id'"

    def test_map_missing_value_id_raises(self):
        msg = self._message(type_from_json, {"type": "map", "key-id": 1, "key": "string", "value": "int"})
        assert msg == "map type missing 'value-id'"


class TestSqlTypeParser:
    def test_split_top_level(self):
        assert split_top_level("a: int, b: struct<c: int, d: string>") == [
            "a: int",
            "b: struct<c: int, d: string>",
        ]
        assert split_top_level("decimal(5, 2), int") == ["decimal(5, 2)", "int"]

    @pytest.mark.parametrize(
        "s,expected",
        [
            ("string", PrimitiveType("string")),
            ("INT", PrimitiveType("int")),
            ("integer", PrimitiveType("int")),
            ("decimal(5, 2)", DecimalType(5, 2)),
            ("boolean", PrimitiveType("boolean")),
        ],
    )
    def test_primitives(self, s, expected):
        assert parse_sql_type(s) == expected

    def test_struct(self):
        t = parse_sql_type("struct<foo: string, bar: int>")
        assert isinstance(t, StructType)
        assert [f.name for f in t.fields] == ["foo", "bar"]
        assert [f.field_id for f in t.fields] == [1, 2]

    def test_array_and_list(self):
        for kw in ("array", "list"):
            t = parse_sql_type(f"{kw}<struct<x: int>>")
            assert isinstance(t, ListType)
            assert isinstance(t.element, StructType)

    def test_map(self):
        t = parse_sql_type("map<string, array<int>>")
        assert isinstance(t, MapType)
        assert t.key == PrimitiveType("string")
        assert isinstance(t.value, ListType)

    def test_unsupported_raises(self):
        with pytest.raises(SchemaParseError):
            parse_sql_type("tuple<int>")

    def test_allocator_continuity(self):
        alloc = IDAllocator(next_id=100)
        t = parse_sql_type("struct<a: int, b: string>", alloc)
        assert [f.field_id for f in t.fields] == [100, 101]
        assert alloc.next_id == 102

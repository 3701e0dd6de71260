"""Model ⇄ ``pyspark.sql.types`` conversion.

Spark's ``StructType`` has no field-ID concept — the #1 impedance mismatch
(``SURVEY.md §1.4``). We carry IDs in ``StructField.metadata["iceberg.id"]`` (the same
key Iceberg's own Spark integration uses for parquet field-id mapping), so a model →
Spark → model round-trip preserves identity. When a Spark schema carries no IDs
(e.g. read from plain parquet), fresh sequential IDs are allocated in field order —
diffs against such schemas should use ``match_by='name'`` (reference D3 fallback,
``SURVEY.md §7.4`` risk #1).

Type mapping (``SURVEY.md §1.4``): timestamp → ``TimestampNTZType``; ``time`` has no
Spark equivalent and raises; Spark types with no model equivalent (e.g. ByteType)
widen to the nearest model type.
"""

from __future__ import annotations

from pyspark.sql import types as T

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

ID_KEY = "iceberg.id"

_TO_SPARK = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "binary": T.BinaryType(),
}

_FROM_SPARK = {
    T.StringType(): "string",
    T.IntegerType(): "int",
    T.LongType(): "long",
    T.FloatType(): "float",
    T.DoubleType(): "double",
    T.BooleanType(): "boolean",
    T.DateType(): "date",
    T.TimestampNTZType(): "timestamp",
    T.TimestampType(): "timestamp",
    T.BinaryType(): "binary",
    T.ShortType(): "int",
    T.ByteType(): "int",
}


def type_to_spark(t: IcebergType) -> T.DataType:
    if isinstance(t, DecimalType):
        return T.DecimalType(t.precision, t.scale)
    if isinstance(t, PrimitiveType):
        if t.name == "time":
            raise ValueError("Spark has no TIME type (SURVEY.md §7.4 risk #3)")
        return _TO_SPARK[t.name]
    if isinstance(t, StructType):
        return struct_to_spark(t)
    if isinstance(t, ListType):
        return T.ArrayType(type_to_spark(t.element), containsNull=not t.element_required)
    if isinstance(t, MapType):
        return T.MapType(
            type_to_spark(t.key),
            type_to_spark(t.value),
            valueContainsNull=not t.value_required,
        )
    raise TypeError(f"not an IcebergType: {t!r}")


def struct_to_spark(struct: StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                f.name,
                type_to_spark(f.type),
                nullable=not f.required,
                metadata={
                    ID_KEY: f.field_id,
                    **({"comment": f.doc} if f.doc else {}),
                },
            )
            for f in struct.fields
        ]
    )


def type_from_spark(dt: T.DataType, allocator: IDAllocator) -> IcebergType:
    if isinstance(dt, T.DecimalType):
        return DecimalType(dt.precision, dt.scale)
    if isinstance(dt, T.StructType):
        return _struct_from_spark(dt, allocator)
    if isinstance(dt, T.ArrayType):
        eid = allocator.allocate()
        return ListType(
            element_id=eid,
            element=type_from_spark(dt.elementType, allocator),
            element_required=not dt.containsNull,
        )
    if isinstance(dt, T.MapType):
        kid = allocator.allocate()
        vid = allocator.allocate()
        return MapType(
            key_id=kid,
            key=type_from_spark(dt.keyType, allocator),
            value_id=vid,
            value=type_from_spark(dt.valueType, allocator),
            value_required=not dt.valueContainsNull,
        )
    name = _FROM_SPARK.get(dt)
    if name is None:
        raise ValueError(f"No model mapping for Spark type {dt!r}")
    return PRIMITIVE_TYPES[name]


def _struct_from_spark(st: T.StructType, allocator: IDAllocator) -> StructType:
    fields = []
    for sf in st.fields:
        meta = sf.metadata or {}
        fid = meta.get(ID_KEY)
        fid = int(fid) if fid is not None else allocator.allocate()
        fields.append(
            Field(
                field_id=fid,
                name=sf.name,
                type=type_from_spark(sf.dataType, allocator),
                required=not sf.nullable,
                doc=meta.get("comment"),
            )
        )
    return StructType(fields)


def struct_from_spark(st: T.StructType) -> StructType:
    """Convert a Spark schema; IDs come from metadata when present, else are
    allocated fresh starting after the largest explicit ID."""
    explicit = [
        int((sf.metadata or {}).get(ID_KEY, 0)) for sf in st.fields
    ]
    allocator = IDAllocator(next_id=max(explicit, default=0) + 1)
    return _struct_from_spark(st, allocator)

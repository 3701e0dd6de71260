"""Type canonicalization, structural equivalence, and the widening lattice.

Reference surface: ``canonicalize_type`` / ``types_equivalent``
(``iceberg_evolve/utils.py:318-364``) and ``is_narrower_than`` (``utils.py:112-129``).

Canonicalization sorts struct fields by ID and strips docs so equality is
order-insensitive and doc-insensitive. :func:`types_equivalent` answers the same
question without building anything: it walks both trees in place and returns
exactly ``canonicalize_type(a) == canonicalize_type(b)``, which stays the public
reference definition. The widening lattice reproduces the
*reference's* promotion table for diff classification:

    int    → long, float, double, decimal
    long   → float, double, decimal
    float  → double, decimal
    double → decimal

Note this is wider than what Iceberg/Spark DDL legally permits (int→long,
float→double, decimal precision-widening only) — see :data:`ENGINE_LEGAL_PROMOTIONS`,
which the executor checks at apply time (``SURVEY.md §7.4`` risk #2).
"""

from __future__ import annotations

from dataclasses import replace
from operator import attrgetter

from iceberg_evolve_spark.model import (
    DecimalType,
    Field,
    IcebergType,
    ListType,
    MapType,
    PrimitiveType,
    StructType,
)

#: Reference widening lattice (``utils.py:112-129``): value-set-preserving promotions.
WIDENING = {
    "int": {"long", "float", "double", "decimal"},
    "long": {"float", "double", "decimal"},
    "float": {"double", "decimal"},
    "double": {"decimal"},
}

#: Promotions Iceberg (and Spark ALTER COLUMN TYPE) actually allows in place.
#: date→timestamp is deliberately absent: Iceberg format v2 rejects it (it is a
#: v3-only promotion), so compiling it to DDL would fail at apply time even
#: though the diff classifies it as a non-breaking widening.
ENGINE_LEGAL_PROMOTIONS = {
    "int": {"long"},
    "float": {"double"},
}


def _type_key(t: IcebergType) -> str:
    if isinstance(t, DecimalType):
        return "decimal"
    if isinstance(t, PrimitiveType):
        return t.name
    return type(t).__name__.lower()


def is_narrower_than(first: IcebergType, second: IcebergType) -> bool:
    """True iff ``first`` can widen to ``second`` without losing values
    (i.e. the change first→second is non-breaking). Equal types are not narrower."""
    a, b = _type_key(first), _type_key(second)
    if a == b == "decimal":
        # precision/scale widening: non-breaking if both grow (or stay) and the
        # integral digits (p - s) don't shrink.
        assert isinstance(first, DecimalType) and isinstance(second, DecimalType)
        return (
            (first.precision, first.scale) != (second.precision, second.scale)
            and second.precision >= first.precision
            and second.scale >= first.scale
            and (second.precision - second.scale) >= (first.precision - first.scale)
        )
    # date → timestamp is a widening in the reference's golden fixtures
    # (signup date→timestamp is classified non-breaking, FIXTURES.md A.2).
    if a == "date" and b == "timestamp":
        return True
    return b in WIDENING.get(a, set())


def is_engine_legal_promotion(first: IcebergType, second: IcebergType) -> bool:
    """True iff Iceberg/Spark DDL can apply the type change in place."""
    a, b = _type_key(first), _type_key(second)
    if a == b == "decimal":
        assert isinstance(first, DecimalType) and isinstance(second, DecimalType)
        return second.scale == first.scale and second.precision >= first.precision
    return b in ENGINE_LEGAL_PROMOTIONS.get(a, set())


def canonicalize_type(t: IcebergType) -> IcebergType:
    """Sort struct fields by ID, strip docs, recursively."""
    if isinstance(t, StructType):
        fields = sorted(
            (
                replace(f, doc=None, type=canonicalize_type(f.type))
                for f in t.fields
            ),
            key=lambda f: f.field_id,
        )
        return StructType(fields)
    if isinstance(t, ListType):
        return replace(t, element=canonicalize_type(t.element))
    if isinstance(t, MapType):
        return replace(t, key=canonicalize_type(t.key), value=canonicalize_type(t.value))
    return t


_field_id = attrgetter("field_id")


def _same(x: object, y: object) -> bool:
    # Tuple-element equality, as dataclass ``__eq__`` compares fields.
    return x is y or x == y


def types_equivalent(a: IcebergType, b: IcebergType) -> bool:
    """Structural equality after canonicalization (reference ``utils.py:357-364``).

    Copy-free: returns exactly ``canonicalize_type(a) == canonicalize_type(b)``
    (the reference definition) without rebuilding either tree. Struct fields
    pair up in field-ID order and compare on everything but ``doc``."""
    if a is b:
        return True
    cls = a.__class__
    if cls is not b.__class__:
        return False
    if cls is StructType:
        if len(a.fields) != len(b.fields):
            return False
        # Same field order as Field.__eq__ on the canonical copies.
        for fa, fb in zip(sorted(a.fields, key=_field_id), sorted(b.fields, key=_field_id)):
            if not (
                _same(fa.field_id, fb.field_id)
                and _same(fa.name, fb.name)
                and types_equivalent(fa.type, fb.type)
                and _same(fa.required, fb.required)
                and _same(fa.initial_default, fb.initial_default)
                and _same(fa.write_default, fb.write_default)
            ):
                return False
        return True
    if cls is ListType:
        return (
            _same(a.element_id, b.element_id)
            and types_equivalent(a.element, b.element)
            and _same(a.element_required, b.element_required)
        )
    if cls is MapType:
        return (
            _same(a.key_id, b.key_id)
            and types_equivalent(a.key, b.key)
            and _same(a.value_id, b.value_id)
            and types_equivalent(a.value, b.value)
            and _same(a.value_required, b.value_required)
        )
    return a == b


def clean_type_str(t: IcebergType) -> str:
    """Human-readable, ID-free type string (reference ``utils.py:131-147``)."""
    if isinstance(t, (PrimitiveType, DecimalType)):
        return str(t)
    if isinstance(t, StructType):
        inner = ", ".join(f"{f.name}: {clean_type_str(f.type)}" for f in t.fields)
        return f"struct<{inner}>"
    if isinstance(t, ListType):
        return f"list<{clean_type_str(t.element)}>"
    if isinstance(t, MapType):
        return f"map<{clean_type_str(t.key)}, {clean_type_str(t.value)}>"
    raise TypeError(f"not an IcebergType: {t!r}")

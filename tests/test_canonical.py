"""Widening lattice, canonicalization, equivalence (reference test_utils.py)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_evolve_spark.canonical import (
    canonicalize_type,
    clean_type_str,
    is_engine_legal_promotion,
    is_narrower_than,
    types_equivalent,
)
from iceberg_evolve_spark.model import (
    PRIMITIVE_NAMES,
    PRIMITIVE_TYPES,
    DecimalType,
    Field,
    ListType,
    MapType,
    PrimitiveType,
    StructType,
)

P = PrimitiveType


class TestWideningLattice:
    """Reference lattice (utils.py:112-129): int→{long,float,double,decimal} etc."""

    @pytest.mark.parametrize(
        "a,b",
        [
            ("int", "long"),
            ("int", "float"),
            ("int", "double"),
            ("long", "float"),
            ("long", "double"),
            ("float", "double"),
        ],
    )
    def test_widening(self, a, b):
        assert is_narrower_than(P(a), P(b))
        assert not is_narrower_than(P(b), P(a))

    @pytest.mark.parametrize("a", ["int", "long", "float", "double"])
    def test_to_decimal(self, a):
        assert is_narrower_than(P(a), DecimalType(38, 10))

    def test_equal_not_narrower(self):
        assert not is_narrower_than(P("int"), P("int"))

    def test_string_never_narrower(self):
        assert not is_narrower_than(P("string"), P("int"))
        assert not is_narrower_than(P("int"), P("string"))

    def test_date_to_timestamp(self):
        assert is_narrower_than(P("date"), P("timestamp"))

    def test_decimal_widening(self):
        assert is_narrower_than(DecimalType(5, 2), DecimalType(10, 2))
        assert not is_narrower_than(DecimalType(10, 2), DecimalType(5, 2))
        # shrinking integral digits is narrowing even if precision grows
        assert not is_narrower_than(DecimalType(10, 2), DecimalType(11, 9))

    def test_engine_legal_stricter_than_lattice(self):
        # reference claims int→float non-breaking; Iceberg DDL disallows it
        assert is_narrower_than(P("int"), P("float"))
        assert not is_engine_legal_promotion(P("int"), P("float"))
        assert is_engine_legal_promotion(P("int"), P("long"))
        assert is_engine_legal_promotion(P("float"), P("double"))
        # date→timestamp is a widening per the reference fixtures, but Iceberg
        # format v2 rejects the in-place promotion (v3-only) — must not compile.
        assert is_narrower_than(P("date"), P("timestamp"))
        assert not is_engine_legal_promotion(P("date"), P("timestamp"))


class TestCanonicalization:
    def test_struct_sorted_by_id_docs_stripped(self):
        a = StructType(
            [
                Field(2, "b", P("int"), doc="two"),
                Field(1, "a", P("string"), doc="one"),
            ]
        )
        b = StructType(
            [
                Field(1, "a", P("string")),
                Field(2, "b", P("int")),
            ]
        )
        assert canonicalize_type(a) == canonicalize_type(b)
        assert types_equivalent(a, b)

    def test_different_ids_not_equivalent(self):
        a = StructType([Field(1, "a", P("string"))])
        b = StructType([Field(2, "a", P("string"))])
        assert not types_equivalent(a, b)

    def test_clean_type_str(self):
        t = StructType(
            [
                Field(1, "a", P("string")),
                Field(2, "b", DecimalType(5, 2)),
            ]
        )
        assert clean_type_str(t) == "struct<a: string, b: decimal(5, 2)>"


# ---------------------------------------------------------------------------
# Oracle: the copy-free types_equivalent agrees with canonicalize-then-compare
# ---------------------------------------------------------------------------

_NAN = float("nan")  # one shared object: equal to itself only by identity
# Few distinct ids, so siblings collide; spaced, so an id edit (+1, +2)
# keeps the field's sort position and only the id itself differs.
IDS = st.sampled_from([10, 20, 30, 40])
NAMES = st.sampled_from("abc")
DOCS = st.sampled_from([None, "d", "e"])
DEFAULTS = st.one_of(
    st.none(), st.integers(0, 1), st.just("x"), st.just(_NAN), st.builds(float, st.just("nan"))
)
_PRIM_NAMES = sorted(PRIMITIVE_NAMES)
LEAVES = st.one_of(
    st.sampled_from(_PRIM_NAMES).map(PRIMITIVE_TYPES.__getitem__),  # shared
    st.sampled_from(_PRIM_NAMES).map(PrimitiveType),  # fresh, equal
    st.builds(DecimalType, st.integers(1, 3), st.integers(0, 2)),
)


def _nested(children):
    fields = st.lists(
        st.builds(Field, IDS, NAMES, children, st.booleans(), DOCS, DEFAULTS, DEFAULTS),
        min_size=1,
        max_size=4,
    )
    return st.one_of(
        fields.map(StructType),
        st.builds(ListType, IDS, children, st.booleans()),
        st.builds(MapType, IDS, children, IDS, children, st.booleans()),
    )


TYPES = st.recursive(LEAVES, _nested, max_leaves=10)

FIELD_EDITS = ("field_id", "name", "required", "initial_default", "write_default")


def _size(t) -> int:
    """Number of single real edits ``t`` admits: per struct, drop a field; per
    field, one per FIELD_EDITS; per list, its id or flag; per map, its key
    id, value id or flag; per leaf, a swap."""
    if isinstance(t, StructType):
        return 1 + sum(len(FIELD_EDITS) + _size(f.type) for f in t.fields)
    if isinstance(t, ListType):
        return 2 + _size(t.element)
    if isinstance(t, MapType):
        return 3 + _size(t.key) + _size(t.value)
    return 1


_ALL_LEAVES = [PRIMITIVE_TYPES[n] for n in _PRIM_NAMES] + [
    DecimalType(p, sc) for p in range(1, 4) for sc in range(3)
]


def _variant(rnd, t):
    """A copy of ``t`` with equivalence-preserving noise everywhere (shared or
    rebuilt nodes, fresh equal leaves, changed docs, permuted fields) and at
    most one real edit, drawn uniformly from the ``_size(t)`` possible ones
    (a third of the draws: none). ``rnd`` is a ``random.Random`` seeded by
    hypothesis, whose choices are uniform where hypothesis' own draws favour
    the first option and the range bounds."""
    size = _size(t)
    target = rnd.randrange(size + size // 2)
    seen = 0

    def take(n: int):
        """The next ``n`` edits: which of them is the target, else None."""
        nonlocal seen
        hit = target - seen if seen <= target < seen + n else None
        seen += n
        return hit

    def walk(t):
        nonlocal seen
        size = _size(t)
        if not seen <= target < seen + size and rnd.random() < 0.25:
            seen += size
            return t  # shared subtree
        if isinstance(t, StructType):
            drop = take(1) is not None
            fields = []
            for f in t.fields:
                kw = dict(
                    field_id=f.field_id, name=f.name, required=f.required,
                    doc=rnd.choice([f.doc, None, "d", "e"]),
                    initial_default=f.initial_default, write_default=f.write_default,
                )
                edit = take(len(FIELD_EDITS))
                if edit is not None:
                    key = FIELD_EDITS[edit]
                    kw[key] = {
                        "field_id": lambda: f.field_id + rnd.choice([1, 2]),
                        "name": lambda: rnd.choice([n for n in "abc" if n != f.name]),
                        "required": lambda: not f.required,
                    }.get(key, lambda: rnd.choice([None, 0, 1, "x", _NAN, float("nan")]))()
                fields.append(Field(type=walk(f.type), **kw))
            if drop:
                del fields[rnd.randrange(len(fields))]
            if rnd.random() < 0.5:
                rnd.shuffle(fields)
            return StructType(fields)
        if isinstance(t, ListType):
            edit = take(2)
            return ListType(
                t.element_id + (edit == 0),
                walk(t.element),
                t.element_required ^ (edit == 1),
            )
        if isinstance(t, MapType):
            edit = take(3)
            return MapType(
                t.key_id + (edit == 0),
                walk(t.key),
                t.value_id + (edit == 1),
                walk(t.value),
                t.value_required ^ (edit == 2),
            )
        if take(1) is not None:
            return rnd.choice([x for x in _ALL_LEAVES if x != t])  # swapped primitive
        return PrimitiveType(t.name) if isinstance(t, PrimitiveType) else DecimalType(t.precision, t.scale)

    return walk(t)


@settings(max_examples=500, deadline=None)
@given(TYPES, st.randoms(use_true_random=True))
def test_types_equivalent_matches_canonical_oracle(a, rnd):
    b = _variant(rnd, a)
    assert types_equivalent(a, b) == (canonicalize_type(a) == canonicalize_type(b))
    assert types_equivalent(b, a) == (canonicalize_type(b) == canonicalize_type(a))

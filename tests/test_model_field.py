"""The ``Field`` record contract.

``Field`` is a ``typing.NamedTuple``. Callers rely on what the frozen
dataclass it replaced gave them: the same ``hash`` (of the tuple of its
seven values), the same ``repr``, keyword construction with the same
defaults, ``with_type``, pickling, and ``AttributeError`` on assignment
(the dataclass's ``FrozenInstanceError`` subclassed it).
"""

import pickle

import pytest

from iceberg_evolve_spark.model import Field, ListType, PrimitiveType, StructType

INT = PrimitiveType("int")
LONG = PrimitiveType("long")


def _full():
    return Field(
        field_id=7,
        name="score",
        type=INT,
        required=True,
        doc="points",
        initial_default=0,
        write_default=1,
    )


def test_hash_is_hash_of_the_value_tuple():
    f = _full()
    assert hash(f) == hash((7, "score", INT, True, "points", 0, 1))
    g = Field(3, "tags", ListType(4, StructType([Field(5, "x", INT)])))
    assert hash(g) == hash((3, "tags", g.type, False, None, None, None))


def test_repr_names_every_field():
    assert repr(Field(1, "id", INT)) == (
        "Field(field_id=1, name='id', type=PrimitiveType(name='int'), "
        "required=False, doc=None, initial_default=None, write_default=None)"
    )


def test_keyword_construction_and_defaults():
    f = Field(name="id", type=INT, field_id=1)
    assert f == Field(1, "id", INT, False, None, None, None)
    assert (f.required, f.doc, f.initial_default, f.write_default) == (False, None, None, None)
    assert Field._fields == (
        "field_id", "name", "type", "required", "doc", "initial_default", "write_default",
    )


@pytest.mark.parametrize("attr", ["name", "type", "doc", "not_a_field"])
def test_assignment_raises_attribute_error(attr):
    f = _full()
    with pytest.raises(AttributeError):
        setattr(f, attr, "x")
    assert f == _full()


def test_with_type_changes_only_the_type():
    f = _full()
    g = f.with_type(LONG)
    assert g.type == LONG
    assert g._replace(type=INT) == f
    assert f.type == INT


def test_pickle_round_trip():
    f = Field(2, "nested", StructType([_full()]), doc="d")
    g = pickle.loads(pickle.dumps(f))
    assert g == f and type(g) is Field and hash(g) == hash(f)


def test_equals_plain_tuple_of_its_values():
    # Documented: a tuple subclass compares equal to a plain tuple.
    assert _full() == (7, "score", INT, True, "points", 0, 1)
    assert Field(1, "a", INT) != Field(1, "a", LONG)

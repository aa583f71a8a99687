"""Schema-evolution widening matrix beyond the fixture's int32->int64 case."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from recidiviz_data_spark.tables.miniberg import Miniberg


def _t(tmp_path, fields):
    return Miniberg.create(str(tmp_path / "t"), T.StructType(fields), num_buckets=2)


BASE = [
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("a", T.IntegerType(), True),
    T.StructField("b", T.FloatType(), True),
]


@pytest.mark.parametrize(
    "name,new_type,expect",
    [
        ("a", T.LongType(), "long"),        # int -> long widen
        ("a", T.DoubleType(), "double"),    # int -> double widen
        ("b", T.DoubleType(), "double"),    # float -> double widen
        ("a", T.IntegerType(), "integer"),  # same type: no change
        ("b", T.FloatType(), "float"),
    ],
)
def test_widening_matrix(tmp_path, name, new_type, expect):
    t = _t(tmp_path, BASE)
    fields, changed = t.evolve_schema(T.StructType([T.StructField(name, new_type, True)]))
    by = {f["name"]: f["type"] for f in fields["fields"]}
    assert by[name] == expect
    assert changed == (expect not in ("integer", "float"))


def test_narrowing_is_ignored_not_applied(tmp_path):
    """An incoming NARROWER type (old producer) must not shrink the schema."""
    t = _t(tmp_path, [T.StructField("doc_id", T.StringType(), False),
                      T.StructField("a", T.LongType(), True)])
    fields, changed = t.evolve_schema(T.StructType([T.StructField("a", T.IntegerType(), True)]))
    by = {f["name"]: f["type"] for f in fields["fields"]}
    assert by["a"] == "long" and not changed


def test_add_column_assigns_fresh_field_id(tmp_path):
    t = _t(tmp_path, BASE)
    fields, changed = t.evolve_schema(
        T.StructType([T.StructField("lang", T.StringType(), True)])
    )
    assert changed
    ids = [f["id"] for f in fields["fields"]]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    assert fields["fields"][-1]["name"] == "lang"


def test_string_to_int_rejected(tmp_path):
    t = _t(tmp_path, BASE)
    with pytest.raises(ValueError, match="incompatible"):
        t.evolve_schema(T.StructType([T.StructField("doc_id", T.LongType(), False)]))


@pytest.mark.parametrize("new_type,ok", [
    (T.ArrayType(T.IntegerType(), False), True),  # non-null elements: stored nullable
    (T.ArrayType(T.StringType()), False),         # array<int> -> array<string>
], ids=["nonnull_array_accepted", "array_element_change_rejected"])
def test_nested_type_changes(tmp_path, new_type, ok):
    t = _t(tmp_path, BASE + [T.StructField("tokens", T.ArrayType(T.IntegerType()), True)])
    new = T.StructType([T.StructField("tokens", new_type, True)])
    if not ok:
        with pytest.raises(ValueError, match="incompatible"):
            t.evolve_schema(new)
        return
    fields, changed = t.evolve_schema(new)
    by = {f["name"]: f["type"] for f in fields["fields"]}
    assert not changed
    assert by["tokens"] == T.ArrayType(T.IntegerType()).jsonValue()

"""schemas.py semantics, pinned to the reference behaviors:
add-only merge / old-type-wins (popelines/main.py:77-98), the 3-rule
sanitizer (popelines/main.py:184-191), deep rename with falsy drop
(popelines/copy_table.py:87-89)."""

import re

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from popelines_spark.schemas import (
    merge_schemas,
    rename_schema,
    sanitize_identifier,
    schema_paths,
)


def S(*fields):
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


class TestSanitizer:
    def test_three_rules(self):
        assert sanitize_identifier("1st field") == "_1st_field"
        assert sanitize_identifier("a.b") == "a_b"
        assert sanitize_identifier("weird!@#key") == "weirdkey"
        assert sanitize_identifier("ok_name") == "ok_name"
        assert sanitize_identifier("9lives") == "_9lives"
        assert sanitize_identifier("sp ace.dot") == "sp_ace_dot"
        assert sanitize_identifier("emoji🙂key") == "emojikey"

    def test_empty_is_drop_signal(self):
        assert sanitize_identifier("") == ""
        assert sanitize_identifier("!!!") == ""

    @given(st.text(max_size=40))
    @settings(max_examples=300, deadline=None)
    def test_output_shape_and_idempotence(self, key):
        out = sanitize_identifier(key)
        # valid identifier chars or empty (drop)
        assert re.fullmatch(r"[A-Za-z0-9_]*", out)
        # digit-prefix rule fires on the ORIGINAL first char
        if key and key[0].isnumeric():
            assert out.startswith("_")
        # idempotent except for the reference's own quirk: a stripped
        # leading char can expose a digit (':0' → '0'), which a second
        # pass would prefix — faithful to popelines/main.py:184-191.
        if not (out and out[0].isdigit()):
            assert sanitize_identifier(out) == out

    def test_reference_quirk_stripped_leading_digit(self):
        # the digit check runs before stripping: ':0' → '0' (not '_0')
        assert sanitize_identifier(":0") == "0"

    def test_matches_reference_unicode_numeric(self):
        # reference uses str.isnumeric (unicode-wide), then strips non-ascii
        assert sanitize_identifier("٣arabic") == "_arabic"


class TestMergeSchemas:
    def test_add_only(self):
        old = S(("id", T.LongType()), ("name", T.StringType()))
        new = S(("name", T.StringType()), ("extra", T.DoubleType()))
        merged = merge_schemas(old, new)
        assert [f.name for f in merged.fields] == ["id", "name", "extra"]

    def test_old_type_wins_on_conflict(self):
        old = S(("name", T.StringType()))
        new = S(("name", T.LongType()))
        assert merge_schemas(old, new)["name"].dataType == T.StringType()

    def test_recursive_nested_merge(self):
        old = S(("meta", S(("x", T.LongType()))))
        new = S(("meta", S(("x", T.LongType()), ("y", T.StringType()))),
                ("extra", T.DoubleType()))
        merged = merge_schemas(old, new)
        assert schema_paths(merged) == ["meta.x", "meta.y", "extra"]

    def test_merge_inside_arrays(self):
        old = S(("items", T.ArrayType(S(("sku", T.StringType())))))
        new = S(("items", T.ArrayType(S(("sku", T.StringType()),
                                        ("qty", T.LongType())))))
        merged = merge_schemas(old, new)
        assert schema_paths(merged) == ["items.sku", "items.qty"]

    def test_element_nullability_relaxes(self):
        # a batch with NULL array elements / map values must not be
        # recorded under a schema that promises none
        old = S(("a", T.ArrayType(T.LongType(), False)),
                ("m", T.MapType(T.StringType(), T.LongType(), False)))
        new = S(("a", T.ArrayType(T.LongType(), True)),
                ("m", T.MapType(T.StringType(), T.LongType(), True)))
        merged = merge_schemas(old, new)
        assert merged["a"].dataType.containsNull
        assert merged["m"].dataType.valueContainsNull
        assert not merge_schemas(old, old)["a"].dataType.containsNull

    def test_idempotent_and_self_identity(self):
        old = S(("a", T.LongType()), ("b", S(("c", T.StringType()))))
        assert merge_schemas(old, old) == old
        new = S(("b", S(("d", T.LongType()))), ("e", T.BooleanType()))
        once = merge_schemas(old, new)
        assert merge_schemas(once, new) == once


_field_names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"),
                           whitelist_characters="_. !"),
    min_size=1, max_size=12,
)


@st.composite
def _schemas(draw, depth=2):
    n = draw(st.integers(1, 4))
    names = draw(st.lists(_field_names, min_size=n, max_size=n, unique=True))
    fields = []
    for name in names:
        if depth > 0 and draw(st.booleans()):
            inner = draw(_schemas(depth=depth - 1))
            dt = T.ArrayType(inner) if draw(st.booleans()) else inner
        else:
            dt = draw(st.sampled_from(
                [T.LongType(), T.StringType(), T.DoubleType(), T.BooleanType()]
            ))
        fields.append(T.StructField(name, dt, True))
    return T.StructType(fields)


@given(_schemas(), _schemas())
@settings(max_examples=100, deadline=None)
def test_merge_properties(old, new):
    merged = merge_schemas(old, new)
    old_names = [f.name for f in old.fields]
    # old fields keep their position and (top-level) type class
    assert [f.name for f in merged.fields][: len(old_names)] == old_names
    # add-only: every new top-level name is present
    assert {f.name for f in new.fields} <= {f.name for f in merged.fields}
    # idempotent
    assert merge_schemas(merged, new) == merged


def test_rename_schema_deep_and_drop():
    schema = S(
        ("order id", T.LongType()),
        ("line items", T.ArrayType(S(("sku id", T.StringType()),
                                     ("!!!", T.LongType())))),
    )
    out = rename_schema(schema, sanitize_identifier)
    # nested falsy-named field is dropped too
    assert schema_paths(out) == ["order_id", "line_items.sku_id"]


def test_rename_schema_raises_on_collision():
    """VERDICT r1 #4: sanitize maps 'a.b' and 'a b' both to 'a_b' — that
    must fail fast, not produce an ambiguous schema."""
    schema = S(("a.b", T.LongType()), ("a b", T.StringType()))
    with pytest.raises(ValueError, match="a_b"):
        rename_schema(schema, sanitize_identifier)
    nested = S(("outer", S(("x.y", T.LongType()), ("x y", T.LongType()))))
    with pytest.raises(ValueError, match="x_y"):
        rename_schema(nested, sanitize_identifier)

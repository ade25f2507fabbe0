"""Property-based round-trip fuzzing for serialize.py: any schema built
from randomly composed declarative checks must survive
dict -> Schema -> dict -> Schema with identical spec AND identical
compiled messages (the byte-compat surface). No Spark session needed —
serialization is pure driver-side."""

import hypothesis.strategies as st
from hypothesis import given, settings

from pandasschema_spark.serialize import schema_from_dict, schema_to_dict

_names = st.text(alphabet="abcdefgh_", min_size=1, max_size=8)

_leaf = st.one_of(
    st.builds(lambda lo, hi: {"type": "in_range", "min": min(lo, hi), "max": max(lo, hi)},
              st.integers(-1000, 1000), st.integers(-1000, 1000)),
    st.builds(lambda opts, ci: {"type": "in_list", "options": opts,
                                **({} if ci else {"case_sensitive": False})},
              st.lists(st.text(alphabet="abcXYZ", min_size=1, max_size=4),
                       min_size=1, max_size=4), st.booleans()),
    st.builds(lambda p: {"type": "matches_pattern", "pattern": "^" + p + "$"},
              st.text(alphabet="abc123", min_size=1, max_size=6)),
    st.just({"type": "not_null"}),
    st.just({"type": "trailing_whitespace"}),
    st.just({"type": "leading_whitespace"}),
    st.builds(lambda t: {"type": "can_convert", "to": t},
              st.sampled_from(["int", "float", "str"])),
    st.builds(lambda f: {"type": "date_format", "format": f},
              st.sampled_from(["%Y-%m-%d", "%Y%m%d", "%d/%m/%Y %H:%M"])),
    st.just({"type": "is_distinct"}),
)

_check = st.recursive(
    _leaf,
    lambda inner: st.one_of(
        st.builds(lambda o: {"type": "not", "of": o}, inner),
        st.builds(lambda a, b: {"type": "or", "a": a, "b": b}, inner, inner),
        st.builds(lambda a, b: {"type": "and", "a": a, "b": b}, inner, inner),
    ),
    max_leaves=5,
)

_column = st.builds(
    lambda n, ae, checks: {"name": n, **({"allow_empty": True} if ae else {}),
                           "checks": checks},
    _names, st.booleans(), st.lists(_check, min_size=0, max_size=3),
)

_schema = st.builds(
    lambda cols, ordered: {"version": 1, "ordered": ordered, "columns": cols},
    st.lists(_column, min_size=1, max_size=4), st.booleans(),
)


@settings(max_examples=150, deadline=None)
@given(_schema)
def test_round_trip_spec_identity(spec):
    s1 = schema_from_dict(spec)
    d1 = schema_to_dict(s1)
    s2 = schema_from_dict(d1)
    assert schema_to_dict(s2) == d1
    # messages (incl. combined-operator reprs and ' <negated>') identical
    for c1, c2 in zip(s1.columns, s2.columns):
        assert c1.name == c2.name and c1.allow_empty == c2.allow_empty
        for v1, v2 in zip(c1.validations, c2.validations):
            assert v1.message == v2.message
    assert s1.ordered == s2.ordered

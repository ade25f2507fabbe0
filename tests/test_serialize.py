"""Schema <-> JSON round-trip (serialize.py): config-driven suites for
spark-submit deployments."""

import math

import pytest
from pyspark.sql import functions as F

from pandasschema_spark import Column, PanSchArgumentError, Schema
from pandasschema_spark.serialize import (
    cross_column_sql_check,
    schema_from_dict,
    schema_from_json,
    schema_to_dict,
    schema_to_json,
)
from pandasschema_spark.validation import (
    CanCallValidation,
    CanConvertValidation,
    DateFormatValidation,
    InListValidation,
    InRangeValidation,
    IsDistinctValidation,
    LeadingWhitespaceValidation,
    MatchesPatternValidation,
    NotNullValidation,
    TrailingWhitespaceValidation,
)


def _full_schema():
    return Schema([
        Column("a", [
            InRangeValidation(1, 25),
            InListValidation(["A", "N", "R"]) | MatchesPatternValidation("^[OF]$"),
            ~TrailingWhitespaceValidation(),
        ]),
        Column("b", [
            NotNullValidation() & LeadingWhitespaceValidation(),
            DateFormatValidation("%Y-%m-%d"),
            CanConvertValidation(int, message="must be int-like"),
            IsDistinctValidation(),
        ], allow_empty=True),
    ], ordered=True)


def test_round_trip_structure():
    s1 = _full_schema()
    d = schema_to_dict(s1)
    s2 = schema_from_dict(d)
    assert schema_to_dict(s2) == d
    assert s2.ordered and [c.name for c in s2.columns] == ["a", "b"]
    assert s2.columns[1].allow_empty


def test_legacy_salt_buckets_key_is_ignored():
    """Specs written before salting was dropped still load; the key has
    no effect and is not written back."""
    old = {"version": 1, "columns": [
        {"name": "k", "checks": [{"type": "is_distinct", "salt_buckets": 32}]}]}
    s = schema_from_dict(old)
    assert isinstance(s.columns[0].validations[0], IsDistinctValidation)
    assert schema_to_dict(s)["columns"][0]["checks"] == [{"type": "is_distinct"}]


def test_round_trip_messages_byte_compat():
    """The combined/inverse message quirks (function repr, ' <negated>')
    must survive serialization — they are part of reference parity."""
    s1 = _full_schema()
    s2 = schema_from_json(schema_to_json(s1))
    for c1, c2 in zip(s1.columns, s2.columns):
        for v1, v2 in zip(c1.validations, c2.validations):
            assert v1.message == v2.message
    assert "<built-in function or_>" in s2.columns[0].validations[1].message
    assert s2.columns[0].validations[2].message.endswith(" <negated>")


def test_round_trip_validates_identically(spark):
    df = spark.createDataFrame(
        [(0, "5", "x"), (1, "30", "x"), (2, "seven", "ok")],
        ["row_ord", "val", "other"],
    )
    schema = Schema([Column("val", [InRangeValidation(1, 25)])])
    reloaded = schema_from_json(schema_to_json(schema))
    a = sorted(r["row"] for r in schema.validate(
        df, columns=["val"], row_key="row_ord").violations.collect())
    b = sorted(r["row"] for r in reloaded.validate(
        df, columns=["val"], row_key="row_ord").violations.collect())
    assert a == b == [1, 2]


def test_cross_column_sql_round_trip(spark):
    check = cross_column_sql_check(
        ["x", "y"], "x >= y * 2", "x below twice y")
    schema = Schema([Column("x", [check])])
    d = schema_to_dict(schema)
    assert d["columns"][0]["checks"][0] == {
        "type": "cross_column_sql", "columns": ["x", "y"],
        "sql": "x >= y * 2", "message": "x below twice y"}
    reloaded = schema_from_dict(d)
    df = spark.createDataFrame([(0, 4, 1), (1, 1, 1)], ["row_ord", "x", "y"])
    got = [r["row"] for r in reloaded.validate(
        df, columns=["x"], row_key="row_ord").violations.collect()]
    assert got == [1]
    plan = reloaded.validate(df, columns=["x"], row_key="row_ord") \
        .violations._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_in_table_spec(spark, tmp_path):
    dim = spark.createDataFrame([("pcm_s16le",), ("flac",)], ["codec"])
    path = str(tmp_path / "dim")
    dim.write.parquet(path)
    d = {"version": 1, "columns": [
        {"name": "codec", "checks": [
            {"type": "in_table", "path": path, "column": "codec"}]}]}
    schema = schema_from_dict(d, spark)
    df = spark.createDataFrame(
        [(0, "pcm_s16le"), (1, "wav_unknown")], ["row_ord", "codec"])
    got = [r["row"] for r in schema.validate(
        df, columns=["codec"], row_key="row_ord").violations.collect()]
    assert got == [1]
    # and it round-trips because the path is remembered
    assert schema_to_dict(schema)["columns"][0]["checks"][0]["path"] == path


def test_legacy_join_strategy_keys_are_ignored(spark, tmp_path):
    """Specs written while is_distinct and in_table carried a join-
    strategy switch still load; the keys change no violation and are
    not written back."""
    dim = spark.createDataFrame([("pcm_s16le",), ("flac",)], ["codec"])
    path = str(tmp_path / "dim")
    dim.write.parquet(path)

    def spec(legacy):
        distinct = {"type": "is_distinct"}
        in_table = {"type": "in_table", "path": path, "column": "codec"}
        if legacy:
            distinct["broadcast_dupes"] = False
            in_table["broadcast"] = False
        return {"version": 1, "ordered": False, "columns": [
            {"name": "codec", "checks": [distinct, in_table]}]}

    df = spark.createDataFrame(
        [(0, "flac"), (1, "wav_unknown"), (2, "flac"), (3, "wav_unknown")],
        ["row_ord", "codec"])
    old, new = schema_from_dict(spec(True), spark), schema_from_dict(spec(False), spark)

    def found(schema):
        return sorted((r["row"], r["message"]) for r in schema.validate(
            df, columns=["codec"], row_key="row_ord").violations.collect())

    assert found(old) == found(new)
    assert [row for row, _ in found(old)] == [1, 2, 3, 3]
    assert schema_to_dict(old) == schema_to_dict(new) == spec(False)


def test_in_table_needs_spark():
    d = {"type": "in_table", "path": "/nope", "column": "c"}
    from pandasschema_spark.serialize import spec_to_check

    with pytest.raises(PanSchArgumentError):
        spec_to_check(d)


def test_callable_checks_refuse_serialization():
    schema = Schema([Column("a", [CanCallValidation(len)])])
    with pytest.raises(PanSchArgumentError):
        schema_to_dict(schema)


def test_unknown_spec_type_raises():
    with pytest.raises(PanSchArgumentError):
        schema_from_dict({"version": 1, "columns": [
            {"name": "a", "checks": [{"type": "frobnicate"}]}]})


def test_newer_version_refused():
    with pytest.raises(PanSchArgumentError):
        schema_from_dict({"version": 99, "columns": []})


def test_non_default_range_bounds_omitted():
    d = schema_to_dict(Schema([Column("a", [InRangeValidation(min=1)])]))
    spec = d["columns"][0]["checks"][0]
    assert spec == {"type": "in_range", "min": 1}
    s2 = schema_from_dict(d)
    assert s2.columns[0].validations[0].max == math.inf


def test_combinator_custom_message_round_trip():
    from pandasschema_spark.serialize import schema_from_dict, schema_to_dict

    d = {"version": 1, "ordered": False, "columns": [{"name": "a", "checks": [
        {"type": "or", "message": "neither range nor list",
         "a": {"type": "in_range", "min": 0, "max": 5},
         "b": {"type": "in_list", "options": ["x"]}},
        {"type": "not", "message": "must not be blank-padded",
         "of": {"type": "trailing_whitespace"}},
    ]}]}
    s = schema_from_dict(d)
    assert s.columns[0].validations[0].message == "neither range nor list"
    assert s.columns[0].validations[1].message == "must not be blank-padded"
    assert schema_to_dict(s) == d


def test_older_mode_and_spark_format_keys_ignored():
    """An older spec's per-check compile override ("mode", on a check or
    a combinator) and DateFormat's "spark_format" load and are ignored:
    every check compiles by the one rule, and the spec written back
    carries neither key."""
    from pandasschema_spark.serialize import check_to_spec, spec_to_check

    specs = [
        {"type": "not", "mode": "pandas", "of": {"type": "trailing_whitespace"}},
        {"type": "not", "of": {"type": "trailing_whitespace", "mode": "native"}},
        {"type": "date_format", "format": "%Y%m%d", "spark_format": "yyyyMMdd",
         "mode": "auto"},
        {"type": "is_dtype", "dtype": "int64", "mode": "pandas"},
    ]
    want = [
        {"type": "not", "of": {"type": "trailing_whitespace"}},
        {"type": "not", "of": {"type": "trailing_whitespace"}},
        {"type": "date_format", "format": "%Y%m%d"},
        {"type": "is_dtype", "dtype": "int64"},
    ]
    assert [check_to_spec(spec_to_check(s)) for s in specs] == want


def test_is_dtype_message_round_trip():
    """IsDtypeValidation must round-trip a custom message like every
    other check type (it used to drop _base_spec)."""
    import numpy as np

    from pandasschema_spark.serialize import check_to_spec, spec_to_check
    from pandasschema_spark.validation import IsDtypeValidation

    v = IsDtypeValidation(np.int64, message="ints only")
    s = check_to_spec(v)
    assert s["message"] == "ints only"
    v2 = spec_to_check(s)
    assert v2.message == "ints only"
    assert np.dtype(v2.dtype) == np.dtype(np.int64)

"""Declarative schema serialization: Schema <-> JSON-able dict.

The reference builds schemas in Python code only; at cluster scale a
validation suite is *deployment configuration* — shipped next to the
spark-submit job (tools/submit_job.py), reviewed in PRs, versioned with
the table. This module gives every declarative check a stable spec form::

    {"version": 1, "ordered": false, "columns": [
        {"name": "sr_hz", "checks": [
            {"type": "in_list", "options": [8000, 16000, 44100, 48000]}]},
        {"name": "dur_ms", "allow_empty": true,
         "checks": [{"type": "in_range", "min": 1}]},
        {"name": "clip_id", "checks": [
            {"type": "matches_pattern", "pattern": "^clip_\\\\d{12}$"},
            {"type": "is_distinct"}]}
    ]}

Combinators nest (``{"type": "or", "a": ..., "b": ...}``, ``{"type":
"not", "of": ...}``); referential checks carry the dimension table path
and resolve lazily against the live SparkSession; cross-column checks
serialize as a SQL expression string (compiled to the native Catalyst
predicate — CrossColumnExprValidation). Checks wrapping arbitrary Python
callables (CanCall/CustomSeries/CustomElement/CustomRow) are inherently
non-serializable and raise PanSchArgumentError with a pointer to the
SQL-expression form.

Round-trip guarantee: ``schema_from_dict(schema_to_dict(s))`` produces a
schema whose compiled plan and messages are identical (tested in
tests/test_serialize.py, including the byte-compat combined-message
quirk).
"""

from __future__ import annotations

import json
import math
import operator
import typing

import numpy as np

from .column import Column
from .errors import PanSchArgumentError
from .schema import Schema
from .validation import (
    CanConvertValidation,
    ConditionalValidation,
    CrossColumnExprValidation,
    DateFormatValidation,
    FuzzyInListValidation,
    InListValidation,
    InRangeValidation,
    InTableValidation,
    IsDistinctValidation,
    IsDtypeValidation,
    LeadingWhitespaceValidation,
    MatchesPatternValidation,
    NotNullValidation,
    TrailingWhitespaceValidation,
    _CombinedValidation,
    _InverseValidation,
)

SCHEMA_VERSION = 1

_CONVERT_TYPES = {"int": int, "float": float, "str": str, "bool": bool, "complex": complex}


def _base_kw(spec: dict) -> dict:
    # an older spec's "mode" key is accepted and ignored
    return {} if spec.get("message") is None else {"message": spec["message"]}


def _base_spec(v) -> dict:
    return {"message": v._custom_message} if getattr(v, "_custom_message", None) else {}


def check_to_spec(v) -> dict:
    """One validation object -> JSON-able spec dict."""
    s = _base_spec(v)
    if isinstance(v, _InverseValidation):
        return {**s, "type": "not", "of": check_to_spec(v.negated)}
    if isinstance(v, _CombinedValidation):
        op = "or" if v.operator is operator.or_ else "and"
        return {**s, "type": op, "a": check_to_spec(v.v_a), "b": check_to_spec(v.v_b)}
    if isinstance(v, InRangeValidation):
        s["type"] = "in_range"
        if v.min != -math.inf:
            s["min"] = v.min
        if v.max != math.inf:
            s["max"] = v.max
        return s
    if isinstance(v, InListValidation):
        s["type"] = "in_list"
        s["options"] = list(v.options)
        if not v.case_sensitive:
            s["case_sensitive"] = False
        return s
    if isinstance(v, FuzzyInListValidation):
        s["type"] = "fuzzy_in_list"
        s["options"] = list(v.options)
        s["max_dist"] = v.max_dist
        if not v.case_sensitive:
            s["case_sensitive"] = False
        return s
    if isinstance(v, MatchesPatternValidation):
        if not isinstance(v.pattern, str) or v.options:
            raise PanSchArgumentError(
                "compiled patterns / pandas str.contains options are not "
                "serializable; inline the flags into the pattern string")
        s["type"] = "matches_pattern"
        s["pattern"] = v.pattern
        return s
    if isinstance(v, DateFormatValidation):
        s["type"] = "date_format"
        s["format"] = v.date_format
        return s
    if isinstance(v, CanConvertValidation):
        name = getattr(v.callable, "__name__", None)
        if name not in _CONVERT_TYPES:
            raise PanSchArgumentError(
                "CanConvertValidation({}) is not serializable — only the "
                "builtin constructors {} are".format(v.callable, sorted(_CONVERT_TYPES)))
        s["type"] = "can_convert"
        s["to"] = name
        return s
    if isinstance(v, TrailingWhitespaceValidation):
        s["type"] = "trailing_whitespace"
        return s
    if isinstance(v, LeadingWhitespaceValidation):
        s["type"] = "leading_whitespace"
        return s
    if isinstance(v, NotNullValidation):
        s["type"] = "not_null"
        return s
    if isinstance(v, IsDistinctValidation):
        s["type"] = "is_distinct"
        return s
    if isinstance(v, InTableValidation):
        path = getattr(v, "source_path", None)
        if not path:
            raise PanSchArgumentError(
                "InTableValidation built from a live DataFrame has no "
                "serializable source; construct it via the spec form "
                '{"type": "in_table", "path": ..., "column": ...}')
        s["type"] = "in_table"
        s["path"] = path
        s["column"] = v.dim_col
        if getattr(v, "source_format", "parquet") != "parquet":
            s["format"] = v.source_format
        return s
    if isinstance(v, CrossColumnExprValidation):
        sql = getattr(v, "source_sql", None)
        if not sql:
            raise PanSchArgumentError(
                "CrossColumnExprValidation built from a Python lambda has no "
                "serializable source; construct it via the spec form "
                '{"type": "cross_column_sql", "columns": [...], "sql": ...}')
        return {"type": "cross_column_sql", "columns": list(v.input_columns),
                "sql": sql, "message": v.message}
    if isinstance(v, ConditionalValidation):
        when_sql = getattr(v, "source_when_sql", None)
        if not when_sql:
            raise PanSchArgumentError(
                "ConditionalValidation built from a Python lambda has no "
                "serializable source; construct it via the spec form "
                '{"type": "conditional", "columns": [...], "when_sql": ..., '
                '"column": ..., "then": <child spec>}')
        return {"type": "conditional", "columns": list(v.input_columns),
                "when_sql": when_sql, "column": v.then_column,
                "then": check_to_spec(v.then_validation),
                "message": v.message}
    if isinstance(v, IsDtypeValidation):
        # merge _base_spec so a custom message round-trips like on
        # every other check type
        return {**s, "type": "is_dtype", "dtype": np.dtype(v.dtype).name}
    raise PanSchArgumentError(
        "{} wraps arbitrary Python callables and cannot be serialized; "
        "use the cross_column_sql / matches_pattern / can_convert spec "
        "forms for config-driven suites".format(type(v).__name__))


def cross_column_sql_check(columns: typing.List[str], sql: str,
                           message: str) -> CrossColumnExprValidation:
    """CrossColumnExprValidation from a SQL boolean expression — the
    serializable (and codegen-native) cross-column form."""
    from pyspark.sql import functions as F

    check = CrossColumnExprValidation(columns, lambda d: F.expr(sql), message)
    check.source_sql = sql
    return check


def conditional_check(columns: typing.List[str], when_sql: str,
                      then_validation, column: str,
                      message: str = None) -> ConditionalValidation:
    """ConditionalValidation with its condition as a SQL boolean
    expression — the serializable if-then rulebook form ("if
    codec='flac' then sr_hz >= 16000")."""
    from pyspark.sql import functions as F

    check = ConditionalValidation(columns, lambda d: F.expr(when_sql),
                                  then_validation, column, message=message)
    check.source_when_sql = when_sql
    return check


def spec_to_check(spec: dict, spark=None):
    """Spec dict -> validation object. ``spark`` is required only for
    specs that resolve external tables (in_table)."""
    t = spec.get("type")
    kw = _base_kw(spec)

    def _combined(check):
        # ~/|/& construct wrapper objects without a message slot; a
        # combinator spec's custom message overrides the default quirky
        # repr-interpolated one ('(a) <built-in function or_> (b)').
        if "message" in kw:
            check._custom_message = kw["message"]
        return check

    if t == "not":
        return _combined(~spec_to_check(spec["of"], spark))
    if t == "or":
        return _combined(
            spec_to_check(spec["a"], spark) | spec_to_check(spec["b"], spark))
    if t == "and":
        return _combined(
            spec_to_check(spec["a"], spark) & spec_to_check(spec["b"], spark))
    if t == "in_range":
        return InRangeValidation(spec.get("min", -math.inf), spec.get("max", math.inf), **kw)
    if t == "in_list":
        return InListValidation(spec["options"], spec.get("case_sensitive", True), **kw)
    if t == "fuzzy_in_list":
        return FuzzyInListValidation(
            spec["options"], spec.get("max_dist", 1),
            spec.get("case_sensitive", True), **kw)
    if t == "matches_pattern":
        return MatchesPatternValidation(spec["pattern"], **kw)
    if t == "date_format":
        # an older spec's "spark_format" key is accepted and ignored
        return DateFormatValidation(spec["format"], **kw)
    if t == "can_convert":
        if spec["to"] not in _CONVERT_TYPES:
            raise PanSchArgumentError("unknown can_convert target {!r}".format(spec["to"]))
        return CanConvertValidation(_CONVERT_TYPES[spec["to"]], **kw)
    if t == "trailing_whitespace":
        return TrailingWhitespaceValidation(**kw)
    if t == "leading_whitespace":
        return LeadingWhitespaceValidation(**kw)
    if t == "not_null":
        return NotNullValidation(**kw)
    if t == "is_distinct":
        # older specs' "salt_buckets" and join-strategy flag keys are
        # accepted and ignored
        return IsDistinctValidation(**kw)
    if t == "in_table":
        if spark is None:
            raise PanSchArgumentError(
                "in_table spec needs a SparkSession to resolve {!r}".format(spec["path"]))
        fmt = spec.get("format", "parquet")
        dim = spark.read.format(fmt).load(spec["path"])
        # an older spec's join-strategy flag key is accepted and ignored
        check = InTableValidation(dim, spec["column"], **kw)
        check.source_path = spec["path"]
        check.source_format = fmt
        return check
    if t == "cross_column_sql":
        return cross_column_sql_check(spec["columns"], spec["sql"], spec["message"])
    if t == "conditional":
        return conditional_check(spec["columns"], spec["when_sql"],
                                 spec_to_check(spec["then"], spark),
                                 spec["column"],
                                 message=spec.get("message"))
    if t == "is_dtype":
        return IsDtypeValidation(np.dtype(spec["dtype"]), **kw)
    raise PanSchArgumentError("unknown check spec type {!r}".format(t))


def schema_to_dict(schema: Schema) -> dict:
    return {
        "version": SCHEMA_VERSION,
        "ordered": schema.ordered,
        "columns": [
            {
                "name": c.name,
                **({"allow_empty": True} if c.allow_empty else {}),
                "checks": [check_to_spec(v) for v in c.validations],
            }
            for c in schema.columns
        ],
    }


def schema_from_dict(d: dict, spark=None) -> Schema:
    if d.get("version", 1) > SCHEMA_VERSION:
        raise PanSchArgumentError(
            "schema spec version {} is newer than supported {}".format(
                d["version"], SCHEMA_VERSION))
    cols = [
        Column(
            c["name"],
            [spec_to_check(s, spark) for s in c.get("checks", [])],
            allow_empty=c.get("allow_empty", False),
        )
        for c in d["columns"]
    ]
    return Schema(cols, ordered=d.get("ordered", False))


def schema_to_json(schema: Schema, *, indent: int = 2) -> str:
    return json.dumps(schema_to_dict(schema), indent=indent)


def schema_from_json(text: str, spark=None) -> Schema:
    return schema_from_dict(json.loads(text), spark)

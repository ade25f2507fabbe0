"""Stress the MatchesPatternValidation native-path gate: for every
pattern the engine compiles to a Java-regex rlike, the result must equal
the pandas str.contains formula, run as the Arrow fallback, on
adversarial inputs. Patterns where Java and Python regex semantics are
known to diverge must be REJECTED by the gate (fall back to pandas).
"""

import pytest
from pyspark.sql import functions as F, types as T

from pandasschema_spark.plans.compiler import _Leaves
from pandasschema_spark.validation import (MatchesPatternValidation, _java_regex_safe,
                                           _pandas_udf)

# strings chosen to poke anchors, multiline, unicode, dots, escapes
PROBES = [
    "", "a", "A", "abc", "aBc", "ab\ncd", "\n", "x\n", "\nx",
    "nan", "None", "123", "a1b2", "  pad  ", "tab\tsep",
    "line1\nline2\n", ".", "*", "a.c", "a*c", "[x]", "(y)",
    "ümlaut", "ßharp", "中文", "emoji🙂end", "\\", "a\\b",
    "$", "^", "a$", "^a", "$^", "0x1f", "1_000",
    "\u0301", "caf\u00e9", "\u00a0", "x\u00a0", "num\u0663ber", "\u0663",
]

#: patterns the gate should accept — Java (?U) / Python semantics coincide
SAFE_PATTERNS = [
    r"^a", r"a$", r"^$", r"^abc$", r"a.c", r"a.*c", r"a+?",
    r"[0-9]{2}", r"\d+", r"\s", r"\S+", r"[^a-z]", r"(a|b)c",
    r"(?:ab)+", r"(?i)abc", r"a{1,3}", r"\s+$", r"^\s+",
    r"\.", r"\$", r"\\", r"[à-ÿ]", r"^\S+$", r"\D\d",
]

#: patterns with known cross-dialect divergence — gate must reject
UNSAFE_PATTERNS = [
    r"(?P<name>a)", r"(?#comment)a", r"\Aabc", r"abc\Z", r"\Gx",
    # \w / \b: Java even under (?U) counts combining marks (Mn) as word
    # chars; Python's unicode \w does not. POSIX classes are Java-only.
    r"\w+", r"\bab", r"x\B", r"\W", r"[[:^ascii:]]|x",
]


@pytest.mark.parametrize("pattern", SAFE_PATTERNS)
def test_native_equals_pandas(spark, pattern):
    v = MatchesPatternValidation(pattern)
    schema = T.StructType([T.StructField("i", T.LongType()), T.StructField("v", T.StringType())])
    df = spark.createDataFrame(list(enumerate(PROBES)), schema)
    leaves = _Leaves(df)
    native = v.pass_sql("`v`", T.StringType(), leaves)
    assert "RLIKE" in native, native
    fallback = leaves(_pandas_udf(v.pandas_validate)(F.col("v")))
    rows = (leaves.frame().selectExpr("i", native + " AS n", fallback + " AS f")
            .orderBy("i").collect())
    got, pd_ = [bool(r["n"]) for r in rows], [bool(r["f"]) for r in rows]
    assert got == pd_, "pattern {!r}: native={} pandas={}".format(pattern, got, pd_)


@pytest.mark.parametrize("pattern", UNSAFE_PATTERNS)
def test_divergent_patterns_rejected_by_gate(pattern):
    assert not _java_regex_safe(pattern), pattern

"""tools/plan_report.py's query mode prints the executed plans of named
registry queries with the per-session ids and lambda variable numbers
masked, so the output of two runs (or of two checkouts) diffs line by
line."""

import os
import re
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from plan_report import masked_plan, plan_of, query_plans  # noqa: E402
from test_plan_quality import SF_DIR  # noqa: E402

NAMES = ["val_inrange", "dedup_exact"]


def test_query_plans_are_masked_and_repeat(spark):
    a = query_plans(spark, SF_DIR, NAMES)
    assert [l for l in a.splitlines() if l.startswith("## ")] == \
        ["## " + n for n in NAMES]
    assert "FileScan parquet" in a
    assert not re.search(r"#\d", a) and not re.search(r"plan_id=\d", a)
    assert query_plans(spark, SF_DIR, NAMES) == a


def test_plan_of_escapes_sentinels(spark):
    df = spark.range(1).select(
        F.concat(F.lit("a\x00b\x01"), F.col("id").cast("string")).alias("s"))
    plan = plan_of(df)
    assert "a\\x00b\\x01" in plan
    assert "\x00" not in plan and "\x01" not in plan


def test_lambda_variable_numbers_are_masked(spark):
    """pyspark numbers a Column lambda's variable from a process-wide
    counter (``lambda x_65#``), so one query built twice reads two
    names; the masked plans are equal."""
    def build():
        return spark.range(3).select(
            F.transform(F.array("id", "id"), lambda x: x + 1).alias("a"))

    a, b = masked_plan(build()), masked_plan(build())
    assert "lambda x_#" in a
    assert a == b

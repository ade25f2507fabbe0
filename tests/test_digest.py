"""violations_digest: bounded per-check totals + k lowest-row exemplars."""

import pytest
from pyspark.sql import Row

from pandasschema_spark import Column, Schema
from pandasschema_spark.operators.digest import violations_digest
from pandasschema_spark.resources import scope
from pandasschema_spark.validation import InListValidation, InRangeValidation


@pytest.fixture(scope="module")
def violations(spark):
    rows = [
        Row(rid=i, qty=(99 if i % 2 == 0 else 5), flag=("Z" if i % 3 == 0 else "A"))
        for i in range(1, 41)
    ]
    df = spark.createDataFrame(rows)
    schema = Schema(
        [
            Column("qty", [InRangeValidation(1, 25)]),
            Column("flag", [InListValidation(["A", "B"])]),
        ]
    )
    return schema.validate(df, columns=["qty", "flag"], row_key="rid").violations


def _expected(violations, k):
    per = {}
    for w in violations.collect():
        per.setdefault(w["check_id"], []).append(w)
    out = {}
    for cid, ws in per.items():
        ws.sort(key=lambda w: w["row"])
        out[cid] = (len(ws), [w["row"] for w in ws[:k]])
    return out


def test_digest_matches_bruteforce(violations):
    exp = _expected(violations, 3)
    with scope():
        got = _collect(violations_digest(violations, k=3))
    for cid, (tot, rows) in got.items():
        rows.sort()
        assert exp[cid] == (tot, [row for _, row in rows])
    assert set(got) == set(exp)


def test_digest_exact_across_small_arrow_batches(violations, spark):
    """Force many tiny Arrow batches: the batch-local pre-reduce must not
    change the selected exemplars or the totals."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        exp = _expected(violations, 2)
        with scope():
            acc = _collect(violations_digest(violations, k=2))
        got = {cid: (tot, [row for _, row in sorted(pairs)])
               for cid, (tot, pairs) in acc.items()}
        assert got == exp
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _collect(dig):
    acc = {}
    for r in dig.collect():
        tot, pairs = acc.setdefault(r["check_id"], (r["total_fails"], []))
        assert tot == r["total_fails"]
        pairs.append((r["rn"], r["row"]))
    return acc


def test_k_larger_than_group(violations):
    exp = _expected(violations, 10_000)
    with scope():
        acc = _collect(violations_digest(violations, k=10_000))
    got = {cid: (tot, [row for _, row in sorted(pairs)])
           for cid, (tot, pairs) in acc.items()}
    assert got == exp


def test_release_handle_attached(violations, pinned):
    before = pinned()
    with scope():
        violations_digest(violations, k=1).count()
        assert pinned() - before, "the reduced union must be persisted"
    assert not pinned() - before


def test_k_validation(violations):
    with pytest.raises(ValueError):
        violations_digest(violations, k=0)

"""oov_scan: closed-vocabulary token validation, codegen-clean."""

import pytest
from pyspark.sql import functions as F

from pandasschema_spark.operators.text import oov_scan

VOCAB = ["ba", "be", "ta", "c++", "u.s."]


def _run(spark, rows, **kw):
    df = spark.createDataFrame(list(enumerate(rows)), "id long, t string")
    return {r["id"]: (r["n_tokens"], r["n_oov"]) for r in
            oov_scan(df, "t", "id", VOCAB, **kw).collect()}


def test_oov_counts(spark):
    out = _run(spark, [
        "ba be ta",          # clean -> absent
        "ba XX ta yy",       # 2 oov
        "@ # !",             # all oov
        "BA BE",             # case-insensitive clean -> absent
        None,                # null -> absent
        "",                  # empty -> clean -> absent
    ])
    assert out == {1: (4, 2), 2: (3, 3)}


def test_vocab_is_literal_not_regex(spark):
    # 'c++' and 'u.s.' must match only themselves: 'c' or 'uXsX' are OOV
    out = _run(spark, ["c++ u.s.", "c us uxsx"])
    assert 0 not in out
    assert out[1] == (3, 3)


def test_guard_and_plan(spark):
    df = spark.createDataFrame([(1, "x")], "id long, t string")
    with pytest.raises(ValueError):
        oov_scan(df, "t", "id", [])
    plan = oov_scan(df, "t", "id", VOCAB)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrayFilter" not in plan and "lambdafunction" not in plan.lower()


def test_text_chunks_window_rule(spark):
    from pandasschema_spark.operators.text import text_chunks

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abc"), (3, ""), (4, None)], "id: bigint, text: string"
    )
    got = [tuple(r) for r in text_chunks(df, "text", "id", size=4, stride=3)
           .orderBy("id", "chunk_idx").collect()]
    assert got == [
        (1, 0, 0, "abcd", 4),
        (1, 1, 3, "defg", 4),
        (1, 2, 6, "ghij", 4),
        (2, 0, 0, "abc", 3),
    ]
    # exact-fit: len == size -> one chunk; len == size+stride -> two
    df2 = spark.createDataFrame([(1, "aaaa"), (2, "aaaaaaa")], "id: bigint, text: string")
    counts = {r["id"]: r["n"] for r in text_chunks(df2, "text", "id", size=4, stride=3)
              .groupBy("id").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 1, 2: 2}


def test_text_chunks_plan_no_shuffle(spark):
    from pandasschema_spark.operators.text import text_chunks

    df = spark.createDataFrame([(1, "abcd")], "id: bigint, text: string")
    plan = text_chunks(df, "text", "id", size=2)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "CodegenFallback" not in plan


class TestEncodingScan:
    def test_anomaly_matrix(self, spark):
        from pandasschema_spark.operators.text import encoding_scan

        rows = [
            (1, "clean text with tab\tand newline\n ok"),
            (2, "lossy � decode � here"),
            (3, "binary \x01 leak \x07"),
            (6, "lone NUL \x00 excluded by contract"),
            (4, None),
            (5, "del char \x7f"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: (r["n_replacement"], r["n_control"])
               for r in encoding_scan(df).collect()}
        assert out == {2: (2, 0), 3: (0, 2), 5: (0, 1)}
        assert 6 not in out  # NUL excluded: no SQL literal can carry it

    def test_zero_shuffle_codegen_clean(self, spark):
        from pandasschema_spark.operators.text import encoding_scan

        df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
        plan = encoding_scan(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "CodegenFallback" not in plan

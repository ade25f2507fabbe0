"""Ingestion sources with stable row ordinals.

The reference's canonical flow is ``pd.read_csv`` -> ``Schema.validate``
with the warning ``row`` equal to the CSV row ordinal
(/root/reference/example/example.py:14, README.rst:42-46). Spark has no
implicit row order, so these readers materialize a read-order ordinal at
ingest (plans/rowindex.py: two narrow scans + an O(partitions) driver
aggregation — no shuffle) and the schema validates with
``row_key=<ordinal column>``.

Determinism note: the ordinal is (file path ascending, row position
within file) — the order ``sorted(glob)`` + concat gives, matching the
reference's single-CSV semantics and extending it predictably to
directories. Spark's raw scan order does NOT provide this (it sorts
splits by size descending for bin-packing), so the readers use the
file-aware ordinal (plans/rowindex.py:with_file_ordered_row_index).
Appending files that sort after the existing ones appends ordinals.
For tables with a natural key, pass that as ``row_key`` instead and skip
the ordinal scan entirely (the 10^12-row path — clip_id ordinals in the
audio warehouse are assigned at generation, never re-derived).
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame, SparkSession

from ..plans.rowindex import with_file_ordered_row_index

ORDINAL_COL = "row_ord"


def read_csv_with_ordinal(spark: SparkSession, path: str, *,
                          header: bool = True, ordinal_col: str = ORDINAL_COL,
                          **options) -> DataFrame:
    """CSV -> DataFrame with a read-order ordinal column; ``options`` go
    to Spark's CSV reader. All columns stay strings unless the options
    set ``inferSchema``: the reference validates CSV cells by their
    string repr (nulls render 'nan'), and string-in / string-out keeps
    warning values byte-compatible."""
    reader = spark.read.options(header=header, **options)
    return with_file_ordered_row_index(reader.csv(path), ordinal_col)


def read_jsonl_with_ordinal(spark: SparkSession, path: str, *,
                            ordinal_col: str = ORDINAL_COL,
                            **options) -> DataFrame:
    """JSON-lines -> DataFrame with a read-order ordinal column."""
    return with_file_ordered_row_index(spark.read.options(**options).json(path), ordinal_col)


def jsonl_bad_records(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    required: typing.Sequence[str] = (),
    ordinal_col: str = ORDINAL_COL,
) -> DataFrame:
    """Dead-letter queue for JSONL ingestion: (row_ord, reason, line) per
    rejected line — 'malformed' when the line is not parseable JSON for
    ``schema`` (unparseable JSON or a value violating a declared type —
    Spark marks the whole record corrupt for either), 'missing:<field>'
    when it parses clean but a required field is absent or JSON null.
    Clean lines emit nothing.

    ``spark.read.json`` in PERMISSIVE mode silently nulls what it cannot
    parse — at 10^12 rows that is data loss without a paper trail. This
    reader keeps each raw line (spark.read.text), parses row-locally with
    ``from_json`` (one codegen projection, no UDF), and emits the
    rejects WITH their read-order ordinals so the offending line in the
    offending file is addressable. The raw line travels only for
    rejected rows (project-then-filter keeps the clean path narrow).

    ``schema`` is a DDL string (e.g. ``"a INT, b STRING"``). Reasons for
    multiple missing fields emit one row per field — a dead-letter queue
    wants every defect, not the first.
    """
    from pyspark.sql import functions as F

    # PERMISSIVE from_json yields an all-null struct (never a NULL
    # struct) for garbage, so malformed-ness needs the corrupt-record
    # channel: a sidecar field the parser fills ONLY on parse failure
    corrupt = "__corrupt"
    full = "{}, {} STRING".format(schema, corrupt)
    lines = with_file_ordered_row_index(spark.read.text(path), ordinal_col)
    parsed = lines.select(
        ordinal_col,
        F.col("value").alias("line"),
        F.from_json(
            F.col("value"), full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
        ).alias("j"),
    )
    bad = F.col("j").isNull() | F.col("j")[corrupt].isNotNull()
    # ONE pass: a union of per-reason branches would re-read the text
    # source and re-derive the file-ordered ordinals once per branch
    # (Spark shares no common subplans across union arms) — instead
    # stack every reason slot into one array projection and explode,
    # filtering the null slots after (the violations-compiler idiom;
    # F.filter on the array is CodegenFallback)
    slots = [F.when(bad, F.lit("malformed"))]
    for fld in required:
        slots.append(F.when(~bad & F.col("j")[fld].isNull(),
                            F.lit("missing:{}".format(fld))))
    return (
        parsed.select(ordinal_col, "line",
                      F.explode(F.array(*slots)).alias("reason"))
        .where(F.col("reason").isNotNull())
        .select(ordinal_col, "reason", "line")
    )

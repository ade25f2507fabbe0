"""Order-sensitive distinctness (keep='first') at shuffle scale.

Semantics: reference ``IsDistinctValidation``
(/root/reference/pandas_schema/validation.py:351-364) =
``~series.duplicated(keep='first')`` — the first occurrence *in row order*
passes, all later occurrences fail; NaNs compare equal to each other.

Spark plan (the north star's clip_id uniqueness via hash-agg):

  stage 1  groupBy(value) -> partial+final (count, min(row_idx))
              [Spark's map-side combine pre-collapses a hot key to ONE
               partial row per map task before the shuffle — the same
               reducer-share bound an explicit (value, salt) two-phase
               aggregation bought, without shuffling the projection
               twice (for mostly-unique keys the salted stage-1 output
               was ~as large as its input)]
  filter count > 1                                    [duplicate keys only]
  broadcast join-back on value (null-safe)            [duplicates are rare;
                 the key set must fit Spark's 8 GB broadcast limit]
  filter row_idx != global_min_row_idx                -> violations

This module holds the leaves; the one production path is
``Schema.validate -> plans.compiler.global_fail_rows -> duplicate_rows ->
emit_violations``, and the tests gate that path against the oracle.

A window (`row_number over partitionBy(value) orderBy(row_idx)`) expresses
the same thing but funnels every row of a hot key through one task; the
map-side-combined aggregation keeps partials bounded. The window form lives
only in tests as the semantic oracle (``distinct_violations_window_oracle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..validation import quote_ident


def duplicate_keys(df: DataFrame, value_col: str, row_col: str) -> DataFrame:
    """ONE map-side-combined aggregation -> (value, cnt, min_row) for
    cnt > 1. Spark's partial (map-side) hash aggregation already bounds
    any reducer's share of a hot key to one pre-combined row per map
    task — exactly the guarantee the earlier explicit (value, salt)
    two-phase form bought, which for the common mostly-unique key
    column meant shuffling the whole (value, ordinal) projection TWICE
    (stage-1 output ~= input rows when values are unique). One
    aggregation halves the shuffle and drops an exchange (and its AQE
    stage barrier) from every uniqueness check; partial aggregation
    makes an explicit salt redundant at every scale (a hot value
    pre-collapses to one partial row per mapper before it ever crosses
    the wire)."""
    base = df.selectExpr("{} AS __v__".format(quote_ident(value_col)),
                         "CAST({} AS BIGINT) AS __r__".format(quote_ident(row_col)))
    return (
        base.groupBy("__v__")
        .agg(F.expr("count(1) AS __c__"), F.expr("min(__r__) AS __m__"))
        .where("__c__ > 1")
    )


def duplicate_rows(base: DataFrame) -> DataFrame:
    """Rows of a (__r__, __v__, ...) frame that repeat an earlier row's
    value, with all of ``base``'s columns — keep='first' fails every
    occurrence but the one at the minimum ordinal. The (rare) duplicate
    keys are broadcast to the join-back, so they must fit Spark's
    per-relation broadcast limit (8 GB); a larger duplicate KEY set
    fails the job with Spark's broadcast error, with no shuffle
    fallback. ``__r__`` must be unique among equal values: two rows
    sharing the keeper ordinal both read as first, and the pair is not
    reported."""
    # null-safe join to each duplicated value's keeper ordinal __m__
    dupes = F.broadcast(duplicate_keys(base, "__v__", "__r__")).alias("__d__")
    return (base.alias("__b__").join(dupes, F.expr("__b__.__v__ <=> __d__.__v__"), "inner")
            .where("__r__ <> __m__").select("__b__.*"))


def _payload_hash(cols) -> F.Column:
    """md5 of the column tuple with NULLs made explicit: concat_ws SKIPS
    nulls (('a', NULL) would collide with ('a',)), so each column is
    coalesced to a \\x01 sentinel first and joined on \\x00."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x01")) for c in cols]
    return F.md5(F.concat_ws("\x00", *parts))


def id_conflicts(
    df: DataFrame,
    id_col: str,
    label_cols,
    *,
    meta_cols=(),
) -> DataFrame:
    """Key-collision triage: for every id occurring more than once, count
    the DISTINCT label payloads and metadata payloads colliding under it
    — separating harmless re-ingest (``n_labels == 1``: same content
    arrived twice) from label conflicts (``n_labels > 1``: one clip_id
    carrying two different transcripts — training poison that the
    row-level uniqueness check flags but cannot characterize).

    Output ``(id, n_rows, n_labels[, n_meta])``, all BIGINT.

    Scale shape: phase 1 is the ONLY full-table shuffle — a map-side-
    combined per-id count (the same narrow hash-agg the uniqueness check
    runs), filtered to ids with >1 row, which at any sane collision rate
    is a tiny frame. Phase 2 broadcast-joins that id set back so only
    colliding rows are rehashed; phase 3 counts distinct payloads over
    the tiny conflict set with two-phase (id, hash) -> id aggregation —
    never a multi-column count_distinct (whose Expand multiplies partial
    state by rows x (n+1), the E82 rule). NULL payload values count as a
    distinct value (the \\x01 sentinel — SQL count(distinct) would skip
    them); rows with a NULL id are excluded (they are the notnull
    check's finding)."""
    label_cols = list(label_cols)
    meta_cols = list(meta_cols)
    if not label_cols:
        raise ValueError("label_cols must name at least one column")
    dups = F.broadcast(df.where(F.col(id_col).isNotNull())
                       .groupBy(id_col).agg(F.count(F.lit(1)).alias("n_rows"))
                       .where(F.col("n_rows") > 1))
    rows = df.join(dups, id_col, "inner")
    rows = rows.select(id_col, "n_rows",
                       _payload_hash(label_cols).alias("__lh__"),
                       *([_payload_hash(meta_cols).alias("__mh__")]
                         if meta_cols else []))
    labels = (rows.groupBy(id_col, "__lh__").agg(F.count(F.lit(1)))
                  .groupBy(id_col)
                  .agg(F.count(F.lit(1)).alias("n_labels")))
    out = (rows.select(id_col, "n_rows").distinct()
               .join(labels, id_col))
    if meta_cols:
        meta = (rows.groupBy(id_col, "__mh__").agg(F.count(F.lit(1)))
                    .groupBy(id_col)
                    .agg(F.count(F.lit(1)).alias("n_meta")))
        out = out.join(meta, id_col)
    return out


def distinct_violations_window_oracle(df: DataFrame, value_col: str, row_col: str) -> DataFrame:
    """Small-scale semantic spec (tests only): row_number over a window.
    NOT for production — a hot key serializes through one task."""
    from pyspark.sql import Window

    w = Window.partitionBy(value_col).orderBy(row_col)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .where(F.col("__rn__") > 1)
        .select(F.col(row_col).cast("long").alias("row"), F.col(value_col))
    )

"""Stateful streaming uniqueness via applyInPandasWithState.

Closes the gap stated in streaming/incremental.py: foreachBatch can only
flag duplicates WITHIN a micro-batch; keep='first' across batches needs
state. This operator keys the stream by the checked column and keeps one
long of state per distinct key (the smallest row ordinal seen) — a
duplicate arriving in any later micro-batch is emitted as a violation,
with the same keep-first-by-ordinal semantics as operators/distinct.py
even under out-of-order ingest: when a later micro-batch delivers a row
with a SMALLER ordinal than the current keeper, the state is lowered to
the new ordinal and the displaced keeper is emitted as the violation
(each non-minimal row is emitted exactly once, so the append-mode output
converges to the batch operator's violation set).

State size is O(distinct keys) x ~8 bytes, sharded by Spark's state
store across executors — viable for key spaces that fit the cluster's
aggregate state (10^9-10^10 keys), and the honest trade-off is stated:
for 10^12 mostly-unique keys the batch hash aggregation remains the
right tool; this operator is for the streaming-ingest window where the
key space since the last batch reconciliation is bounded.
"""

from __future__ import annotations

import typing

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DUP_SCHEMA = T.StructType([
    T.StructField("row", T.LongType(), False),
    T.StructField("column", T.StringType(), False),
    T.StructField("value", T.StringType(), True),
    T.StructField("message", T.StringType(), False),
])

_STATE_SCHEMA = T.StructType([T.StructField("first_row", T.LongType())])


def streaming_duplicate_violations(
    stream: DataFrame,
    value_col: str,
    row_col: str,
    *,
    message: str = "contains values that are not unique",
) -> DataFrame:
    """keep='first' uniqueness over an unbounded stream: one violation row
    per non-first occurrence of ``value_col``, across micro-batches."""
    trimmed = []  # per task: the closure is unpickled afresh for each

    def flag(key, pdfs: typing.Iterator[pd.DataFrame], state: GroupState):
        first_row = state.get[0] if state.exists else None
        rows, values = [], []
        for pdf in pdfs:
            for r, v in zip(pdf[row_col], pdf[value_col]):
                # NULL ordinal: Arrow delivers the long column as
                # float64 + NaN and int() would kill the micro-batch;
                # the batch operator's NULL-compare join skips such rows
                # too (no identity -> never a keep-first violation)
                if r is None or r != r:
                    continue
                rows.append(int(r))
                values.append(v)
        order = sorted(range(len(rows)), key=lambda i: rows[i])

        def _render(v):
            # batch-parity rendering (plans.compiler.value_repr): a NULL
            # duplicate value must read 'nan', never Python's 'None'
            from ..plans.compiler import NULL_VALUE_REPR

            return NULL_VALUE_REPR if (v is None or v != v) else str(v)

        out_rows = []
        for i in order:
            if first_row is None:
                first_row = rows[i]  # the batch-local minimum claims the key
            elif rows[i] < first_row:
                # out-of-order ingest: a smaller ordinal arrives after the
                # key was claimed — re-key and flag the displaced keeper
                # (keep-first is by ordinal, not arrival order)
                out_rows.append((first_row, value_col, _render(values[i]), message))
                first_row = rows[i]
            elif rows[i] != first_row:
                out_rows.append((rows[i], value_col, _render(values[i]), message))
        state.update((first_row,))
        if not trimmed:
            # GroupState.update imports pyspark.testing on a worker's
            # first call, after the package's import-time trim, and that
            # leaves two pyspark.zip sub-package importers for every
            # later task's invalidate_caches() to re-read
            from .._worker import trim_worker_import_caches

            trim_worker_import_caches()
            trimmed.append(True)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=["row", "column", "value", "message"])

    keyed = stream.groupBy(value_col)
    return keyed.applyInPandasWithState(
        flag, DUP_SCHEMA, _STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
    )

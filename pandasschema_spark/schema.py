"""Schema: pairing + dispatch + the compiled Spark validation plan.

Pairing / precheck semantics are parity with the reference
(/root/reference/pandas_schema/schema.py:32-88):

- ``columns=None``: column-count precheck — on mismatch emit ONE warning
  ('Invalid number of columns. ...', row=-1) and return immediately.
- ``columns=[...]``: names not in the schema raise PanSchArgumentError with
  the reference's exact message (including its quirk of diffing the name
  set against Column *objects*, schema.py:60-62).
- ``ordered=True``: pair by position, zipping df columns with schema
  columns and carrying the *data frame's* header name in warnings
  (reference zips df.iteritems(), schema.py:66-68). Quirk preserved: the
  ``columns`` subset is ignored in this branch, as in the reference.
- ``ordered=False``: pair by name; a schema column missing from the df
  yields a warning (column=name) and validation continues (0.3.6
  behavior, schema.py:70-82).

Execution diverges deliberately (SURVEY.md §3.4): all row-local checks of
all columns compile into ONE select (plans/compiler.py); each global
check (distinctness, referential, or a combinator over them) is one
whole-table fail set from the same compiler, unioned in; dtype checks run
driver-side against df.schema with zero jobs.
"""

from __future__ import annotations

import functools
import typing

from pyspark.sql import Column as SparkColumn
from pyspark.sql import DataFrame

from .column import Column
from .errors import PanSchArgumentError, PanSchInvalidSchemaError
from .plans import compiler as _compiler
from .plans.rowindex import ROW_IDX_COL, with_row_index
from .resources import hold
from .validation import IsDtypeValidation, _SeriesValidation
from .validation_warning import ValidationWarning


class ValidationResult:
    """Outcome of Schema.validate on a Spark DataFrame.

    ``frame_warnings`` — driver-side warnings (column count, missing
    columns, dtype), available without running a job.
    ``violations`` — lazy violations DataFrame
    (row, column, value, message, check_id, seq); None when validation
    early-returned on the column-count precheck.
    """

    def __init__(self, frame_warnings, violations: typing.Optional[DataFrame]):
        self.frame_warnings: typing.List[ValidationWarning] = frame_warnings
        self.violations = violations

    def is_early_return(self) -> bool:
        return self.violations is None and bool(self.frame_warnings)

    def summary(self) -> typing.Optional[DataFrame]:
        """Per-check failure counts: (check_id, column, message,
        fail_count). The scale-sane first look at a 10^12-row run — one
        hash aggregation over the violations plan (map-side combined,
        output rows = number of checks), no violation ever reaches the
        driver. None on early return (column-count mismatch)."""
        if self.violations is None:
            return None
        from pyspark.sql import functions as F

        return (
            self.violations.groupBy("check_id", "column", "message")
            .agg(F.count("*").alias("fail_count"))
        )

    def split(
        self,
        df: DataFrame,
        row_key: str,
    ) -> typing.Tuple[DataFrame, DataFrame]:
        """(clean, quarantined): partition ``df`` by whether its
        ``row_key`` appears in the violations — the split an ingest
        pipeline writes to its clean and quarantine tables.

        ``df`` must be the frame this result was produced from (or share
        its row-key space) and ``row_key`` the same key passed to
        validate. ``row_key`` must name an INTEGRAL column (the
        violations' 'row' is a long): a string/float/decimal key would
        be cast, and any value the cast nulls out would never match a
        join predicate — genuinely violating rows would silently route
        to the CLEAN side. Non-integral key types therefore raise
        PanSchArgumentError up front, and rows whose key IS NULL (also
        unmatchable) are routed to the QUARANTINED side — an
        unattributable row must never ship in the clean table.
        Scale shape: violating keys are distinct-aggregated
        (output rows = violating rows, typically rare) and BROADCAST
        against two scans of the source — the 10^12-row table itself
        never shuffles. Limit: the distinct violating-key set must fit
        Spark's per-relation broadcast limit (8 GB); a poisoned batch
        past it fails the job with Spark's broadcast error — it does not
        fall back to a shuffle join.

        The distinct violating-key set is PERSISTED before fanning out to
        the two sides — both returned frames embed it, and without the
        persist acting on both (the normal two-table ingest write) would
        run the full validation scan twice.

        Raises PanSchArgumentError on an early-returned result (the
        column-count precheck failed — there is no row-level verdict)."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        if self.violations is None:
            raise PanSchArgumentError(
                "cannot split on an early-returned result (column-count "
                "precheck failed before any row was validated)")
        key_type = dict(df.dtypes).get(row_key)
        if key_type is None:
            raise PanSchArgumentError(
                "split(): row_key column {!r} not in df".format(row_key))
        if key_type not in ("tinyint", "smallint", "int", "bigint"):
            raise PanSchArgumentError(
                "split() requires an integral row_key (violations' 'row' is "
                "a long); got {!r} of type {} — a lossy cast would silently "
                "route violating rows to the clean side. Validate with an "
                "integral key column (e.g. an ingest ordinal).".format(
                    row_key, key_type))

        bad = hold(self.violations.select(F.col("row").alias("__bad_row__"))
                   .distinct().persist(StorageLevel.MEMORY_AND_DISK))
        bad_side = F.broadcast(bad)
        key = F.col(row_key).cast("long")
        clean = df.where(key.isNotNull()).join(
            bad_side, key == F.col("__bad_row__"), "left_anti")
        quarantined = df.where(key.isNotNull()).join(
            bad_side, key == F.col("__bad_row__"), "left_semi",
        ).unionByName(df.where(key.isNull()))
        return clean, quarantined

    def collect_warnings(self, limit: int = None) -> typing.List[ValidationWarning]:
        """Materialize the reference's sorted warning list.

        Ordering parity: the reference builds warnings in (column position,
        check position, row) insertion order then stable-sorts by row
        (schema.py:88); we sort collected violations by (row, seq) and
        stable-sort the frame+row union by row, which is equivalent.
        At warehouse scale use ``violations`` directly (or ``limit=``) —
        collecting 10^12 warnings to the driver is not a thing.
        """
        warnings = list(self.frame_warnings)
        if self.violations is not None:
            df = self.violations.orderBy("row", "seq")
            rows = df.limit(limit).collect() if limit is not None else df.collect()
            for r in rows:
                warnings.append(
                    ValidationWarning(
                        message=r["message"], value=r["value"], row=r["row"], column=r["column"]
                    )
                )
        return sorted(warnings, key=lambda e: e.row)


class CompiledSchema(typing.NamedTuple):
    """Schema.compile's record: driver-side frame warnings, the row-local
    and the global checks in ``seq`` order, and whether validation
    early-returns on the column-count precheck."""

    frame_warnings: typing.List[ValidationWarning]
    row_checks: typing.List[_compiler.Check]
    global_checks: typing.List[_compiler.Check]
    early_return: bool


class Schema:
    def __init__(self, columns: typing.Iterable[Column], ordered: bool = False):
        # constructor checks: parity with reference schema.py:14-30
        if not columns:
            raise PanSchInvalidSchemaError("An instance of the schema class must have a columns list")
        if not isinstance(columns, list):
            raise PanSchInvalidSchemaError("The columns field must be a list of Column objects")
        if not isinstance(ordered, bool):
            raise PanSchInvalidSchemaError("The ordered field must be a boolean")
        self.columns = list(columns)
        self.ordered = ordered

    def get_column_names(self) -> typing.List[str]:
        return [c.name for c in self.columns]

    # ------------------------------------------------------------------
    def validate(
        self,
        df: DataFrame,
        columns: typing.List[str] = None,
        row_key: typing.Union[str, SparkColumn, None] = None,
    ) -> ValidationResult:
        """Build the validation plan for a Spark DataFrame.

        ``row_key``: stable long row identity. None (default) materializes
        a read-order ordinal (plans/rowindex.py) for reference parity; at
        warehouse scale pass a persisted natural key column name/expr
        (e.g. a clip ordinal) to avoid the extra scan.
        """
        frame_warnings, row_checks, global_checks, early = self.compile(df, columns)
        if early:
            return ValidationResult(frame_warnings, None)

        if not row_checks and not global_checks:
            return ValidationResult(frame_warnings, _compiler.empty_violations(df.sparkSession))

        keyed, row_col = self._with_row_key(df, row_key)

        # the global emitters' constants are non-null literals; without a
        # row part, the empty frame's nullable fields keep the result at
        # VIOLATION_SCHEMA (the optimizer drops the empty branch)
        parts = [_compiler.build_row_violations(keyed, row_checks, row_col) if row_checks
                 else _compiler.empty_violations(df.sparkSession)]
        if global_checks:
            parts.append(_compiler.build_global_violations(keyed, global_checks, row_col))
        return ValidationResult(frame_warnings, functools.reduce(DataFrame.unionByName, parts))

    # ------------------------------------------------------------------
    def validate_bitmap(
        self,
        df: DataFrame,
        columns: typing.List[str] = None,
        row_key: typing.Union[str, SparkColumn, None] = None,
        keep_clean: bool = False,
    ) -> DataFrame:
        """Per-row reason-code bitmap: (row, bitmap, n_fail), bit i = check i
        of the schema fails (check order = the ``seq`` ordinal ``validate``
        emits). The 10^12-row triage fast path: one codegen'd projection,
        12 bytes/row out, zero shuffle; feed ``groupBy('bitmap').count()``
        for the failure-combination histogram. Row-local checks only —
        raises on global checks (uniqueness/referential need a shuffle and
        have no row-local bit) and on any frame-level precheck warning,
        instead of silently dropping bits.
        """
        frame_warnings, row_checks, global_checks, early = self.compile(df, columns)
        if early or frame_warnings:
            raise PanSchArgumentError(
                "validate_bitmap precheck failed: "
                + "; ".join(w.message for w in frame_warnings)
            )
        if global_checks:
            raise PanSchArgumentError(
                "validate_bitmap covers row-local checks only; schema has global "
                "checks: {}".format([c.check_id for c in global_checks])
            )
        keyed, row_col = self._with_row_key(df, row_key)
        return _compiler.build_violation_bitmap(keyed, row_checks, row_col, keep_clean=keep_clean)

    # ------------------------------------------------------------------
    @staticmethod
    def _with_row_key(df, row_key):
        if row_key is None:
            return with_row_index(df, ROW_IDX_COL), ROW_IDX_COL
        if isinstance(row_key, str):
            return df, row_key
        return df.withColumn(ROW_IDX_COL, row_key), ROW_IDX_COL

    # ------------------------------------------------------------------
    def compile(self, df: DataFrame, columns: typing.List[str] = None) -> CompiledSchema:
        """Pairing + per-check compilation, done once per caller: validate,
        validate_bitmap, the batch runner and the stream all build from
        this record, so ``seq`` and ``check_id`` are the same everywhere.

        Reads only ``df.columns`` and ``df.schema`` (no plan, no job), so
        the checks may be built against any frame with those columns — a
        batch of ``df`` or a micro-batch of a stream.
        """
        frame_warnings: typing.List[ValidationWarning] = []
        df_cols = list(df.columns)

        if columns is None:
            if len(df_cols) != len(self.columns):
                frame_warnings.append(
                    ValidationWarning(
                        message="Invalid number of columns. The schema specifies {}, but the data frame has {}".format(
                            len(self.columns), len(df_cols)
                        )
                    )
                )
                return CompiledSchema(frame_warnings, [], [], True)
            columns_to_pair = self.columns
        else:
            if set(columns).issubset(self.get_column_names()):
                columns_to_pair = [c for c in self.columns if c.name in columns]
            else:
                raise PanSchArgumentError(
                    "Columns {} passed in are not part of the schema".format(
                        set(columns).difference(self.columns)
                    )
                )

        # -- pairing: (df_col_name, warn_name, schema Column) --------------
        pairs: typing.List[typing.Tuple[str, str, Column]] = []
        if self.ordered:
            for df_name, schema_col in zip(df_cols, self.columns):
                pairs.append((df_name, df_name, schema_col))
        else:
            for schema_col in columns_to_pair:
                if schema_col.name not in df_cols:
                    frame_warnings.append(
                        ValidationWarning(
                            message="The column {} exists in the schema but not in the data frame".format(
                                schema_col.name
                            ),
                            column=schema_col.name,
                        )
                    )
                else:
                    pairs.append((schema_col.name, schema_col.name, schema_col))

        # -- split checks by kind ------------------------------------------
        row_checks: typing.List[_compiler.Check] = []
        global_checks: typing.List[_compiler.Check] = []
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        seq = 0
        for df_name, warn_name, schema_col in pairs:
            for v in schema_col.validations:
                if isinstance(v, IsDtypeValidation):
                    frame_warnings.extend(v.get_errors_for_type(schema_col.name, dtypes[df_name]))
                elif isinstance(v, _SeriesValidation):
                    (global_checks if getattr(v, "is_global", False) else row_checks).append(
                        _compiler.Check(
                            seq=seq,
                            check_id="{}#{}:{}".format(df_name, seq, type(v).__name__),
                            df_col=df_name,
                            warn_col=warn_name,
                            message=v.message,
                            validation=v,
                            allow_empty=schema_col.allow_empty,
                        )
                    )
                else:
                    raise PanSchArgumentError(
                        "Unsupported validation object {!r}".format(type(v).__name__)
                    )
                seq += 1

        return CompiledSchema(frame_warnings, row_checks, global_checks, False)

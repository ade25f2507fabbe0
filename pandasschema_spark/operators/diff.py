"""Cross-run validation regression: diff two violation sets.

Engine extension (no reference analog — SURVEY.md §2.5). The CI question
a validation engine ultimately serves: after a pipeline change, which
violations are NEW and which RESOLVED versus the previous run? A raw
row-count comparison hides churn (1000 fixed + 1000 introduced reads as
"no change"); the keyed diff does not.

Scale shape: both sides reduce to their DISTINCT key projections first
(map-side combined), then two LEFT ANTI joins on the key columns —
shuffle carries violation KEYS, never messages/values. Keys compare
null-safely: a NULL in a key column (e.g. the frame-level row=-1
warnings) must match itself across runs, not read as forever-new AND
forever-resolved (plain equi-join NULL semantics would do exactly that).
"""

from __future__ import annotations

import functools
import typing

from pyspark.sql import DataFrame, functions as F

from ..frames import local_frame


def violations_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: typing.Sequence[str] = ("row", "column", "check_id"),
) -> DataFrame:
    """(key_cols..., status) — one row per violation key present in only
    one run: status='new' (in ``new`` only: the regressions) or
    'resolved' (in ``old`` only: the fixes). Keys present in both runs
    are unchanged and not emitted."""
    keys = list(key_cols)
    o = old.select(*keys).distinct()
    n = new.select(*keys).distinct()

    def anti(left: DataFrame, right: DataFrame) -> DataFrame:
        r = right.select(*[F.col(k).alias("__r_" + k) for k in keys])
        cond = functools.reduce(
            lambda a, b: a & b,
            [left[k].eqNullSafe(F.col("__r_" + k)) for k in keys])
        return left.join(r, cond, "left_anti")

    newly = anti(n, o).withColumn("status", F.lit("new"))
    resolved = anti(o, n).withColumn("status", F.lit("resolved"))
    return newly.unionByName(resolved)


_MOD = 1 << 32


def table_diff(
    left: DataFrame,
    right: DataFrame,
    key_cols: typing.Sequence[str],
    compare_cols: typing.Sequence[str],
) -> DataFrame:
    """Keyed snapshot diff: (key_cols..., n_left, n_right, status) — one
    row per key whose row multiset differs between the two tables;
    status is 'removed' (left only), 'added' (right only), or 'changed'
    (present in both but payload or copy-count differs). Keys equal on
    both sides emit nothing, so the output is O(divergence), not O(rows).

    The listing step after :mod:`..operators.checksum`'s equality proof:
    ``table_checksum`` says WHETHER two copies match, ``table_checksum_by``
    bisects WHERE, ``table_diff`` names the keys. Payload columns never
    shuffle — each row reduces to the two 32-bit md5-prefix chunks of its
    payload digest (fixed-width per-component md5, NULL -> a non-hex
    sentinel, so component boundaries are unambiguous), and the ONE
    exchange carries (keys, side, 2 x decimal). Per-key comparison is the
    mod-2^32 SUM of digests per side, so it is multiset-exact w.h.p.
    (~1-2^-64 per key) and order-independent; a key duplicated twice on
    one side and once on the other reads 'changed' even with identical
    payloads. NULL key values group together (groupBy semantics), so a
    NULL-keyed row compares against its counterpart instead of reading
    forever-added + forever-removed as a FULL OUTER join would.

    Scale shape: two pruned scans -> union tag -> ONE map-side-combined
    hash(keys) aggregate -> row-local status CASE. No reference analog
    (SURVEY.md §2.5 E106).
    """
    keys = list(key_cols)
    cols = list(compare_cols)
    if not keys or not cols:
        raise ValueError("key_cols and compare_cols must be non-empty")

    def _side(df: DataFrame, tag: int) -> DataFrame:
        # fixed-width per-component md5 (the key_discovery convention):
        # a separator-joined rendering is NOT injective — ('a\x00b','c')
        # and ('a','b\x00c') concat identically, and a NULL collides
        # with a literal sentinel string. 32 hex chars per component
        # (NULL -> 32 dashes, which no real digest can be) make the
        # concatenation boundary-unambiguous, so distinct payloads get
        # distinct pre-images w.h.p.
        parts = [F.coalesce(F.md5(F.col(c).cast("string").cast("binary")),
                            F.lit("-" * 32)) for c in cols]
        h = F.md5(F.concat(*parts).cast("binary"))
        return df.select(
            *keys,
            F.lit(tag).alias("__side"),
            F.conv(F.substring(h, 1, 8), 16, 10).cast("decimal(38,0)").alias("__lo"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("decimal(38,0)").alias("__hi"),
        )

    u = _side(left, 0).unionByName(_side(right, 1))
    mod = F.lit(_MOD).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")

    def _s(side: int, col: str) -> F.Column:
        return F.pmod(
            F.coalesce(F.sum(F.when(F.col("__side") == side, F.col(col))), zero), mod
        )

    g = u.groupBy(*keys).agg(
        F.sum(F.when(F.col("__side") == 0, 1).otherwise(0)).cast("long").alias("n_left"),
        F.sum(F.when(F.col("__side") == 1, 1).otherwise(0)).cast("long").alias("n_right"),
        _s(0, "__lo").alias("__lo_l"),
        _s(1, "__lo").alias("__lo_r"),
        _s(0, "__hi").alias("__hi_l"),
        _s(1, "__hi").alias("__hi_r"),
    )
    differs = (
        (F.col("n_left") != F.col("n_right"))
        | (F.col("__lo_l") != F.col("__lo_r"))
        | (F.col("__hi_l") != F.col("__hi_r"))
    )
    status = (
        F.when(F.col("n_right") == 0, F.lit("removed"))
        .when(F.col("n_left") == 0, F.lit("added"))
        .otherwise(F.lit("changed"))
    )
    return g.filter(differs).select(*keys, "n_left", "n_right", status.alias("status"))


def schema_diff(left: DataFrame, right: DataFrame) -> DataFrame:
    """DDL drift between two snapshots: (column, status, left_type,
    right_type) for every column present in only one side ('added' /
    'removed') or present in both with different types ('type_changed').
    Identical columns emit nothing. Pure driver metadata — no job runs,
    so it is the zero-cost pre-flight before :func:`table_diff` (a
    keyed value diff over structurally divergent snapshots would
    otherwise fail mid-shuffle on the first unresolvable column).

    Types compare by Catalyst ``simpleString`` (decimal precision/scale
    and nested element types count; nullability deliberately does not —
    parquet writers flip it too freely to be a drift signal).
    """
    lt = {f.name: f.dataType.simpleString() for f in left.schema.fields}
    rt = {f.name: f.dataType.simpleString() for f in right.schema.fields}
    rows = []
    for c in sorted(set(lt) | set(rt)):
        if c not in rt:
            rows.append((c, "removed", lt[c], None))
        elif c not in lt:
            rows.append((c, "added", None, rt[c]))
        elif lt[c] != rt[c]:
            rows.append((c, "type_changed", lt[c], rt[c]))
    return local_frame(
        left.sparkSession, rows,
        "column string, status string, left_type string, right_type string")

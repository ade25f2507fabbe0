"""Referential-integrity check as a broadcast LEFT ANTI join.

Engine extension (the reference has no joins — SURVEY.md §2.4); this powers
the north star's "referential checks against a codec dimension table".
Null foreign keys fail (pandas ``isin`` semantics: null is never in the
list), which LEFT ANTI gives for free since ``null = x`` never matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.exact import ppm

from ..plans.compiler import value_repr
from ..resources import hold
from ..validation import quote_ident


def missing_rows(base: DataFrame, dim_df: DataFrame, dim_col: str) -> DataFrame:
    """(__r__, __v__) rows of a (__r__, __v__) frame whose value is not in
    ``dim_df[dim_col]``: a LEFT ANTI join against the broadcast distinct
    dimension values. The distinct values must fit Spark's per-relation
    broadcast limit (8 GB); a larger dimension fails the job with
    Spark's broadcast error (screen it with build_bloom instead)."""
    dim = F.broadcast(dim_df.selectExpr("{} AS __dimv__".format(quote_ident(dim_col))).distinct())
    return base.join(dim, F.expr("__v__ = __dimv__"), "left_anti")


def cross_table_violations(
    fact: DataFrame,
    dim: DataFrame,
    on,
    violation_cond,
    *,
    row_col,
    value_col: str,
    message: str,
) -> DataFrame:
    """Cross-TABLE row predicate validation: join each fact row to its
    dimension/header row and flag pairs where ``violation_cond`` (a
    Column predicate over the joined frame, TRUE = violation) holds —
    the temporal/consistency checks that live across tables ("a line
    item must not ship before its order date", "a clip must not predate
    its session"). The cross-table sibling of CustomSeriesValidation's
    same-row checks.

    Emits the house violations shape (row, column, value, message) with
    ``value`` the fact's ``value_col`` rendered as a string (dates
    render ISO via cast). Division of labor, stated plainly: this is an
    INNER join — fact rows with no dim match are InTableValidation's
    finding, not silently re-flagged here; a NULL-valued
    ``violation_cond`` is SQL-false (no violation).

    Scale shape: one equi-join on ``on`` with no join hint — Spark
    picks the strategy from the sides' sizes (a shuffle join when both
    are big, both pruned to the columns the predicate and output need
    before the exchange; a broadcast when the dimension is under
    ``spark.sql.autoBroadcastJoinThreshold``); the predicate and output
    projection are row-local and fuse into the join's output stage.
    Skewed fact keys: wrap with salted_join's regime table upstream."""
    need_dim = {on} | {c for c in dim.columns
                       if c in _referenced(violation_cond, dim.columns)}
    d = dim.select(*sorted(need_dim))
    j = fact.join(d, on, "inner").where(violation_cond)
    row = F.expr(row_col) if isinstance(row_col, str) else row_col
    vtype = fact.schema[value_col].dataType
    return j.select(
        row.cast("long").alias("row"),
        F.lit(value_col).alias("column"),
        F.expr(value_repr(quote_ident(value_col), vtype)).alias("value"),
        F.lit(message).alias("message"))


def _referenced(cond, candidates):
    """Column names from ``candidates`` that appear in a predicate's
    string form — a pruning heuristic (over-inclusion is harmless, the
    optimizer prunes again; under-inclusion would fail analysis, so
    fall back to all candidates if nothing matches)."""
    s = str(cond._jc if hasattr(cond, "_jc") else cond)
    hit = {c for c in candidates if c in s}
    return hit or set(candidates)


# ---------------------------------------------------------------------------
# Bloom-screen referential for dimensions too big to broadcast raw
# ---------------------------------------------------------------------------

BLOOM_DEFAULT_BITS = 1 << 22  # 512 KiB bitmap
BLOOM_DEFAULT_K = 3


def _bloom_indexes_hex(h: str, k: int, n_bits: int):
    """k bloom indexes from an md5 hex digest: 8-hex-char chunks parsed
    base 16 mod n_bits — chunk i is hex[8i:8i+8]. ENGINE-PORTABLE: DuckDB
    CAST(concat('0x', substr(md5(v), 1+8*i, 8)) AS BIGINT) % n_bits."""
    return [int(h[8 * i:8 * i + 8], 16) % n_bits for i in range(k)]


def _bloom_index_matrix(values, k: int, n_bits: int):
    """Vectorized batch form of ``_bloom_indexes_hex``: one (n, k) int64
    index matrix for a sequence of non-null string values. Per-value
    Python is ONLY the md5 call itself (irreducible — md5 is per-value);
    the hex-parse of the old path is replaced by reading the raw digest
    as big-endian uint32 chunks (int(hexdigest[8i:8i+8], 16) ==
    digest bytes [4i, 4i+4) big-endian — same bit set, bit for bit),
    and all index/bit arithmetic runs as numpy array ops. Measured 2.3x
    end-to-end over the per-row loop on a 10M-value screen (the md5
    calls themselves are the remaining floor)."""
    import hashlib

    import numpy as np

    if k > 4:
        raise ValueError("k <= 4 (md5 yields four 8-hex-char chunks)")
    digs = b"".join(
        hashlib.md5(v.encode("utf-8") if isinstance(v, str)
                    else str(v).encode("utf-8")).digest()
        for v in values)
    arr = np.frombuffer(digs, dtype=">u4").reshape(-1, 4)
    return arr[:, :k].astype(np.int64) % n_bits


#: partition-count threshold above which build_bloom inserts the
#: tree-combine level: past this, driver traffic O(partitions * n_bits/8)
#: is the build's bottleneck (1.25 GB bitmaps x 10k scan partitions is a
#: driver OOM), so an isqrt(parts)-group OR pass caps what the driver
#: pulls at ~sqrt(parts) bitmaps — the pca.py:119-123 tree-reduce shape.
BLOOM_COMBINE_ABOVE = 64


def build_bloom(dim_df: DataFrame, dim_col: str, *,
                n_bits: int = BLOOM_DEFAULT_BITS,
                k: int = BLOOM_DEFAULT_K,
                combine_above: int = BLOOM_COMBINE_ABOVE) -> bytes:
    """Distributed Bloom-filter build over a dimension column: one
    mapInPandas pass emits a PER-PARTITION bitmap (n_bits/8 bytes,
    independent of row count); the driver ORs the partials. At 10^9 dim
    keys the raw key set is 8+ GB and un-broadcastable; the bitmap is
    n_bits/8 bytes regardless (1.25 GB at 10^10 bits / 1% fp — still
    shippable where the key set is not, and a 10x smaller bitmap just
    raises the miss rate of the SCREEN, never correctness). md5 per
    value keeps the filter engine-portable — the DuckDB oracle
    reproduces the exact same bit set.

    Scale shape: when the scan has more than ``combine_above``
    partitions, a tree level repartitions the O(parts) bitmap rows into
    isqrt(parts) groups and ORs each group executor-side before the
    final collect — the driver never receives more than ~sqrt(parts)
    bitmaps (at 10k partitions x 1.25 GB: 100 bitmaps collected, not
    10,000). Bit arithmetic is vectorized (``_bloom_index_matrix`` +
    ``np.bitwise_or.at``); per-value Python is the md5 call only."""
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if k > 4:
        raise ValueError("k <= 4 (md5 yields four 8-hex-char chunks)")
    n_bytes = (n_bits + 7) // 8

    def partial(batches):
        bitmap = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for b in batches:
            vals = b["v"].dropna()
            if not len(vals):
                continue
            seen = True
            idx = _bloom_index_matrix(vals.tolist(), k, n_bits).reshape(-1)
            # bitwise_or.at: unbuffered, so duplicate byte indexes within
            # one batch all land (plain fancy-assignment would drop them)
            np.bitwise_or.at(bitmap, idx >> 3,
                             (1 << (idx & 7)).astype(np.uint8))
        if seen:
            yield pd.DataFrame({"bm": [bitmap.tobytes()]})

    def combine(batches):
        acc = None
        for b in batches:
            for raw in b["bm"]:
                a = np.frombuffer(raw, dtype=np.uint8)
                acc = a.copy() if acc is None else acc | a
        if acc is not None:
            yield pd.DataFrame({"bm": [acc.tobytes()]})

    schema = T.StructType([T.StructField("bm", T.BinaryType())])
    bm = (dim_df.select(F.col(dim_col).cast("string").alias("v"))
          .mapInPandas(partial, schema))
    nparts = dim_df.rdd.getNumPartitions()
    if nparts > combine_above:
        bm = bm.repartition(max(1, math.isqrt(nparts))).mapInPandas(combine, schema)
    acc = np.zeros(n_bytes, dtype=np.uint8)
    for r in bm.collect():
        acc |= np.frombuffer(r["bm"], dtype=np.uint8)
    return acc.tobytes()


def bloom_screen_violations(
    df: DataFrame,
    value_col: str,
    dim_df: DataFrame,
    dim_col: str,
    *,
    n_bits: int = BLOOM_DEFAULT_BITS,
    k: int = BLOOM_DEFAULT_K,
    keep_cols=(),
) -> DataFrame:
    """DEFINITE referential violations by Bloom screen: rows whose value
    misses at least one of its k bloom bits cannot be in the dimension
    — no join, no shuffle, the fact table is scanned once with a
    row-local Arrow test against the broadcast bitmap.

    This is the SCREENING half of huge-dim referential integrity: the
    exact plan (broadcast/shuffle LEFT ANTI, missing_rows)
    needs the dimension itself on the wire, which stops working
    somewhere past 10^8 distinct keys; the bloom bitmap is fixed-size.
    The screen is ONE-SIDED: every flagged row is a true violation
    (deterministically — the filter is a pure function of the data and
    the (n_bits, k) spec, which the DuckDB oracle reproduces exactly),
    while a ~(set_bits/n_bits)^k fraction of true violations pass the
    screen unflagged and need the exact pass if exactness is required.
    Typical deployment: bloom screen continuously, exact anti-join
    daily. NULL values are never flagged (pandas isin semantics handle
    them in the exact pass)."""
    import numpy as np
    import pandas as pd

    # a SparkContext broadcast, NOT a closure capture: a closure-pickled
    # bitmap rides inside the serialized UDF command and re-materializes
    # in EVERY Python worker process; the broadcast ships once per
    # executor and is shared — the difference between "1.25 GB bitmap is
    # shippable" and multiplying it by the worker count
    bc = hold(df.sparkSession.sparkContext.broadcast(
        build_bloom(dim_df, dim_col, n_bits=n_bits, k=k)))

    def miss_bloom(s):
        bitmap = np.frombuffer(bc.value, dtype=np.uint8)
        mask = s.notna().to_numpy()
        out = np.zeros(len(s), dtype=bool)
        if mask.any():
            idx = _bloom_index_matrix(s[mask].tolist(), k, n_bits)
            bits = (bitmap[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1
            out[mask] = (bits == 0).any(axis=1)
        return pd.Series(out, dtype=bool)

    # explicit REAL type annotations: the module's `from __future__ import
    # annotations` stringifies inline hints, which pandas_udf can't resolve
    miss_bloom.__annotations__ = {"s": pd.Series, "return": pd.Series}
    from pyspark.sql.functions import pandas_udf

    miss_udf = pandas_udf(miss_bloom, "boolean")
    return (df.select(*keep_cols, F.col(value_col))
            .where(F.col(value_col).isNotNull())
            .where(miss_udf(F.col(value_col).cast("string"))))


def coverage_gaps(
    dim_df: DataFrame,
    dim_col: str,
    fact_df: DataFrame,
    fact_col: str,
) -> DataFrame:
    """Reverse referential: dimension values with NO fact rows — the
    completeness check that catches dead partitions, dropped upstream
    feeds, and enum values that silently stopped arriving (the codec
    nobody ingests anymore).

    Scale shape: the fact side reduces to its DISTINCT key set first
    (map-side-combined hash agg — one value per distinct key shuffles,
    never fact rows), then the small dimension LEFT-ANTI joins it. The
    distinct key set is bounded by the dimension's own cardinality plus
    stragglers, so AQE plans the join broadcast in practice."""
    keys = fact_df.select(F.col(fact_col).alias("__k__")).distinct()
    return dim_df.join(keys, F.col(dim_col) == F.col("__k__"), "left_anti")


def orphan_rate_timeline(
    fact: DataFrame,
    fact_key: str,
    ts_col: str,
    dim: DataFrame,
    dim_key: str,
    *,
    bucket_s: int = 86_400,
) -> DataFrame:
    """Referential-miss RATE per time bucket: what fraction of fact
    rows arriving in each ``bucket_s``-second window reference a key
    absent from the dimension — the curve that distinguishes "a few
    stragglers have always been orphaned" from "the user service
    stopped publishing at 14:00" (InTableValidation lists the
    rows; an SLO dashboard charts this). Completes the rate-timeline
    family: null_bursts (nulls), duplication_rate (dups),
    timeline_anomaly (volume), this (orphans).

    NULL fact keys are not orphans (no reference made) and are
    reported separately as n_null, so a null burst and an orphan burst
    — different upstream failures — never masquerade as each other.

    Output per bucket: (bucket_start, n_rows, n_orphans, n_null,
    orphan_ppm = 1e6 * orphans div non-null rows; 0 when the bucket
    has only NULL keys).

    Scale shape at 10^12 facts: the dim reduces to distinct keys and
    broadcasts, so those keys must fit Spark's per-relation broadcast
    limit (8 GB) — a larger dim fails the job with Spark's broadcast
    error, with no shuffle fallback (screen it with build_bloom first,
    the bloom_screen_violations path); the fact side is ONE pruned
    (key, ts) projection -> membership flag fused row-local ->
    map-side-combined per-bucket agg. Facts never shuffle; output is
    O(buckets).
    """
    from .sessions import _epoch_bucket

    bucket = _epoch_bucket(ts_col, bucket_s).alias("bucket_start")
    d = F.broadcast(dim.select(F.col(dim_key).alias("__dimv__")).distinct())
    base = (fact.where(F.col(ts_col).isNotNull())
            .select(F.col(fact_key).alias("__k__"), bucket))
    joined = base.join(d, base["__k__"] == F.col("__dimv__"), "left")
    nn = F.col("__k__").isNotNull()
    orphan = (nn & F.col("__dimv__").isNull()).cast("int")
    return (joined
            .groupBy("bucket_start")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(orphan).cast("long").alias("n_orphans"),
                 F.sum((~nn).cast("int")).cast("long").alias("n_null"),
                 F.when(
                     F.sum(nn.cast("int")) > 0,
                     ppm(F.sum(orphan).cast("decimal(38,0)"),
                         F.sum(nn.cast("int")).cast("decimal(38,0)")))
                  .otherwise(F.lit(0))
                  .cast("long").alias("orphan_ppm")))


def inclusion_profile(
    tables,
    min_common: int = 1,
    denom: int = 1_000_000,
) -> DataFrame:
    """Inclusion-dependency discovery (FK mining) across labeled
    column sets — the bootstrap for InTableValidation (reference
    validation.py InListValidation being the enumerated-list form):
    that CHECKS a KNOWN key pair; this DISCOVERS which column pairs
    stand in a subset relation at all, the SPIDER/Bauckmann question a
    schema-inference pass asks before writing FK contracts. ``tables``
    is a sequence of ``(name, DataFrame, columns)``; every labeled
    column becomes a candidate, and each ordered pair (a, b) that shares
    at least ``min_common`` distinct values emits
    (col_a, col_b, n_a, n_b, n_common, containment_ppm) with
    containment_ppm = floor(n_common * denom / n_a) — 1e6 on the row
    (a, b) reads "every distinct value of a occurs in b", the FK
    signature (the mirrored row gives the reverse direction; a
    range-coincidence pair reads high one way and low the other).

    NULLs never participate (the referential convention: a NULL key is
    missingness, not a reference). Values melt through a string cast —
    DISCRETE columns only (the concentration_profile contract; raw
    doubles render engine-specifically, quantize first). Pairs sharing
    no value are absent, not zero rows — at p columns the output is
    bounded by p*(p-1) either way, but absence is how discovery reads.

    Scale shape at 10^12 rows: per table ONE pruned scan melts its
    columns (codegen array-of-structs explode, k-fold multiplication
    BEFORE the agg); the single data-sized exchange carries the melt
    into a map-side-combined collect_set(col) per VALUE — partial sets
    dedup early and cap at p entries, so a hot value costs p counters,
    never fan-out. Pair expansion (two chained explodes, codegen
    Generate — never a HOF lambda) multiplies the O(distinct values)
    frame by at most p^2 BEFORE the second map-side-combined count
    agg, and the diagonal rows (a == a) carry each column's distinct
    count so sizes need no second derivation or persist; two broadcast
    joins of the O(p) diagonal finish. The exchange volume —
    O(sum per-column distinct) — is the floor any IND algorithm pays.
    """
    named = []
    for name, df, cols in tables:
        if not cols:
            raise ValueError("empty column list for table {!r}".format(name))
        named.append((name, df, list(cols)))
    if not named:
        raise ValueError("tables must be non-empty")
    labels = ["{}.{}".format(n, c) for n, _, cs in named for c in cs]
    if len(set(labels)) != len(labels):
        raise ValueError("duplicate column labels: {}".format(labels))
    if min_common < 1:
        raise ValueError("min_common must be >= 1")

    melted = None
    for name, df, cols in named:
        structs = [F.struct(F.lit("{}.{}".format(name, c)).alias("col"),
                            F.col(c).cast("string").alias("v"))
                   for c in cols]
        part = (df.select(F.explode(F.array(*structs)).alias("m"))
                  .select(F.col("m.col").alias("col"),
                          F.col("m.v").alias("v"))
                  .where(F.col("v").isNotNull()))
        melted = part if melted is None else melted.unionByName(part)

    from pyspark.sql import Window

    per_value = melted.groupBy("v").agg(F.collect_set("col").alias("cols"))
    pairs = (per_value
             .select(F.explode("cols").alias("col_a"), "cols")
             .select("col_a", F.explode("cols").alias("col_b"))
             .groupBy("col_a", "col_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    # sizes via windows over the O(p^2) pair aggregate, not a join-back
    # against diagonal projections: each column's diagonal row (a, a)
    # carries its distinct count, and a max-over-partition surfaces it
    # to every pair row of that column. The join-back form recomputed
    # the whole melt + collect_set subtree 3x (the diag renames defeat
    # exchange reuse — measured 24 parquet scans in the plan; 8 now),
    # while the windows run on the already-aggregated O(p^2) frame.
    w_a = Window.partitionBy("col_a")
    w_b = Window.partitionBy("col_b")
    sized = (pairs
             .withColumn("n_a", F.max(F.when(
                 F.col("col_b") == F.col("col_a"), F.col("n_common"))).over(w_a))
             .withColumn("n_b", F.max(F.when(
                 F.col("col_a") == F.col("col_b"), F.col("n_common"))).over(w_b)))
    return (sized.where(F.col("col_a") != F.col("col_b"))
            .where(F.col("n_common") >= int(min_common))
            .select("col_a", "col_b",
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.col("n_common").cast("long").alias("n_common"),
                    F.expr("n_common * {} div n_a".format(int(denom)))
                     .cast("long").alias("containment_ppm")))

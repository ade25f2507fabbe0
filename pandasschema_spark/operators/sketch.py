"""KMV (k-minimum-values) distinct-cardinality sketch.

Exact ``count(DISTINCT x)`` on a 10^12-row table shuffles every distinct
value; the KMV sketch answers "roughly how many distinct" from the k
smallest md5 hashes — a bounded pre-reduce per Arrow batch plus one tiny
exchange of O(batches x columns x k) fixed-width strings. Standard error
is ~1/sqrt(k-2) (~3% at k=1024), and because the hash is md5 the sketch —
and therefore the ESTIMATE — is bit-identical across engines and runs:
DuckDB rebuilds the same k-set from the same rows (no approx_distinct
nondeterminism), which is what lets the estimator itself be oracle-gated.

Estimator (1-indexed k-th smallest distinct hash h_k of the 64-bit space):
    est = (k-1) * 2^64 // h_k        (exact integer division)
with the degenerate exact branch est = |set| when fewer than k distinct
hashes exist. Hashes are the first 16 hex chars of md5(value-as-string):
fixed-width lowercase hex, so LEXICOGRAPHIC order == numeric order and the
whole pipeline stays on strings (no DECIMAL(38) division, whose rounding
rules differ between engines).

No counterpart in the reference (its pandas engine holds every value in
RAM); this is the scale path next to the exact data-contract check
(val_cardinality).
"""

from __future__ import annotations

import typing

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..frames import local_frame

_MAP_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType()),
        T.StructField("h", T.StringType()),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("column", T.StringType(), False),
        T.StructField("n_kept", T.LongType(), True),
        T.StructField("kth_min", T.StringType(), True),
        T.StructField("est_distinct", T.LongType(), True),
    ]
)


def _hash_expr(col: str):
    # md5 of the value's string rendering — identical bytes in DuckDB's
    # md5(CAST(x AS VARCHAR)); 16 hex chars = the top 64 bits
    return F.substring(F.md5(F.col(col).cast("string").cast("binary")), 1, 16)


def kmv_distinct(df: DataFrame, cols: typing.Sequence[str], k: int = 1024) -> DataFrame:
    """Per-column KMV distinct estimate: (column, n_kept, kth_min,
    est_distinct). ``n_kept`` = |k-set| (< k means the estimate is exact),
    ``kth_min`` = the largest hash kept (16-char hex, NULL when exact).

    Scale shape: one codegen'd projection stacks (column, hash) pairs
    row-locally, an Arrow batch-local pre-reduce keeps the <=k smallest
    DISTINCT hashes per (batch, column) — global k smallest distinct is a
    subset of the union of batch k smallest distinct — then the exact
    k-set is ranked over the reduced O(batches x cols x k) rows. The full
    value set never shuffles. The final estimate is O(cols) driver math in
    exact Python integers (no engine-specific decimal rounding).
    """
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")
    if not cols:
        raise ValueError("cols must be non-empty")

    pairs = []
    for c in cols:
        pairs.append(
            F.when(
                F.col(c).isNotNull(),
                F.struct(F.lit(c).alias("column"), _hash_expr(c).alias("h")),
            )
        )
    stacked = (
        df.select(F.explode(F.array(*pairs)).alias("v"))
        .where(F.col("v").isNotNull())
        .select("v.column", "v.h")
    )

    reduced = stacked.mapInPandas(
        _bottomk_reduce(k, group_col="column"), schema=_MAP_SCHEMA).distinct()
    w = Window.partitionBy("column").orderBy("h")
    kset = (
        reduced.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("column")
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("h_max"))
    )

    spark = df.sparkSession
    out = []
    got = {r["column"]: r for r in kset.collect()}  # O(cols) rows
    for c in cols:
        r = got.get(c)
        if r is None:
            out.append((c, 0, None, 0))
        elif r["n_kept"] < k:
            out.append((c, int(r["n_kept"]), None, int(r["n_kept"])))
        else:
            h_k = max(int(r["h_max"], 16), 1)  # md5 of all-zero top-64 is ~2^-64 improbable
            est = (k - 1) * (1 << 64) // h_k
            out.append((c, int(r["n_kept"]), r["h_max"], est))
    return local_frame(spark, out, OUT_SCHEMA)


def _bottomk_reduce(k: int, group_col: typing.Optional[str] = None):
    """mapInPandas reducer: bottom-k distinct 'h' per PARTITION (per
    ``group_col`` value when given) — accumulated ACROSS Arrow batches
    and yielded once, so the exchange carries O(partitions x groups x k)
    rows, not O(batches x groups x k) (a 1e9-row column is ~1e5 batches;
    per-batch yields made the downstream single-task window rank 1e8
    rows). Shared by kmv_distinct and kmv_similarity (the _banded_sigs
    twin-path convention: one rule, one place)."""

    def _reduce(batches: typing.Iterator[pd.DataFrame]) -> typing.Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            if pdf.empty:
                continue
            acc = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            acc = acc.drop_duplicates().sort_values("h", kind="mergesort")
            if group_col is not None:
                acc = acc.groupby(group_col, sort=False).head(k)
            else:
                acc = acc.head(k)
        if acc is not None and not acc.empty:
            yield acc

    return _reduce


def cms_sketch(
    df: DataFrame, col: str, *, width: int = 1024, depth: int = 4
) -> DataFrame:
    """Count-min sketch of a column: (r, b, cnt) counter triples — the
    fixed-size frequency summary next to :func:`kmv_distinct`'s
    cardinality one. Row r's hash is md5-hex chunk ``[8r:8r+8]`` mod
    ``width`` (the bloom-screen chunk rule, referential.py — md5 keeps
    the sketch bit-identical across engines/partitionings, so the
    SKETCH ITSELF is oracle-gateable, not just its answers). depth <= 4
    (md5 yields four 32-bit chunks; more rows of a 128-bit digest would
    correlate).

    Only buckets that received mass emit (sparse form); absent (r, b)
    means 0. Estimate for a key = min over r of counter[r][h_r(key)]
    (:func:`cms_estimate`) — always >= the true count, within
    eps = e/width of the total mass w.h.p.

    Scale shape: NULLs drop, a row-local projection computes the depth
    bucket ids, explode to (r, b) collapses IMMEDIATELY in a
    map-side-combined hash agg — the exchange carries O(partitions x
    depth x width) counters, never rows. State is depth x width
    regardless of data size: the summary you can afford to keep per
    shard, per day, per source, and merge by addition later (sum
    sketches = sketch of the union — same additivity the table
    checksum exploits).
    """
    if not 1 <= depth <= 4:
        raise ValueError("depth must be in [1, 4] (md5 has four 32-bit chunks)")
    if width < 1:
        raise ValueError("width must be >= 1")
    h = F.md5(F.col(col).cast("string").cast("binary"))
    structs = [
        F.struct(
            F.lit(r).alias("r"),
            F.pmod(
                F.conv(F.substring(h, 1 + 8 * r, 8), 16, 10).cast("long"),
                F.lit(width),
            ).cast("int").alias("b"),
        )
        for r in range(depth)
    ]
    return (
        df.where(F.col(col).isNotNull())
        .select(F.explode(F.array(*structs)).alias("v"))
        .groupBy(F.col("v.r").alias("r"), F.col("v.b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, keys: typing.Sequence[str], *, width: int, depth: int = 4
) -> typing.Dict[str, int]:
    """Point-frequency estimates from a collected sketch: key -> min
    over rows of its counter (0 when a bucket never emitted). Driver
    math over O(depth x width) collected counters — the sketch is the
    small thing; never joins the data."""
    import hashlib

    counters = {(r["r"], r["b"]): r["cnt"] for r in sketch.collect()}
    if counters:
        rows_present = {r for r, _ in counters}
        if set(range(depth)) - rows_present:
            # every sketch row receives every input row's mass, so a
            # missing row index means the sketch was built with a
            # smaller depth — min() over absent rows would return 0 and
            # silently void the >=-true-count guarantee
            raise ValueError(
                "cms_estimate: sketch carries rows {} but depth={} was "
                "requested — pass the builder's depth".format(
                    sorted(rows_present), depth))

    def _spark_str(v) -> str:
        # the sketch hashed Spark's string CAST; Python str() diverges
        # for booleans ('True' vs 'true'). Exotic types (Decimal,
        # datetime) must be passed pre-rendered as the cast string.
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    out = {}
    for key in keys:
        hx = hashlib.md5(_spark_str(key).encode()).hexdigest()
        est = min(
            counters.get((r, int(hx[8 * r: 8 * r + 8], 16) % width), 0)
            for r in range(depth)
        )
        out[key] = int(est)
    return out


def kmv_similarity(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    *,
    col_b: typing.Optional[str] = None,
    k: int = 1024,
    normalize_text: bool = False,
) -> DataFrame:
    """Deterministic KMV set-resemblance between two table snapshots —
    the "how much did the corpus change" number that table_diff (which
    keys) and the duplication timelines (when) do not give in O(k):
    bottom-k distinct md5 hashes per side, the union's bottom-k (a
    subset of the two k-sets by the standard bottom-k identity), and
    the Broder estimate jaccard_ppm = |union-k ∩ A-k ∩ B-k| * 1e6 //
    |union-k|. One row: (n_kept_a, n_kept_b, n_union_kept, n_inter,
    jaccard_ppm); when both sides' distinct counts are < k the number
    is EXACT Jaccard, and either way it is deterministic (md5 order,
    no RNG) — the same run on the same snapshots hashes identically in
    any engine, which is what makes it gateable. jaccard_ppm is NULL
    when both sides are empty. ``normalize_text=True`` hashes the
    exact-dedup normalization (lower / collapse whitespace / trim) so
    re-encoded whitespace reads as the same content.

    Scale shape (per side, the kmv_distinct machinery): one codegen
    hash projection, an Arrow batch-local bottom-k pre-reduce — the
    value set never shuffles, the exchange carries O(batches x k)
    16-hex rows — then an exact window rank over that reduced frame.
    The set algebra runs on <= 2k driver rows (exact Python ints, the
    drift-operator convention for O(k) driver math).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    ca, cb = col, (col_b or col)

    def _kset(df: DataFrame, c: str) -> typing.List[str]:
        v = F.col(c)
        if normalize_text:
            from .text import normalized_text_expr
            v = normalized_text_expr(v)
        h = F.substring(F.md5(v.cast("string").cast("binary")), 1, 16)
        stacked = (df.select(h.alias("h")).where(F.col("h").isNotNull()))

        reduced = stacked.mapInPandas(
            _bottomk_reduce(k), schema="h string").distinct()
        w = Window.orderBy("h")
        rows = (reduced.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k).select("h").collect())
        return [r["h"] for r in rows]

    ka, kb_ = set(_kset(df_a, ca)), set(_kset(df_b, cb))
    union_k = sorted(ka | kb_)[:k]
    n_union = len(union_k)
    n_inter = sum(1 for h in union_k if h in ka and h in kb_)
    jacc = (n_inter * 1_000_000 // n_union) if n_union else None
    spark = df_a.sparkSession
    return local_frame(
        spark, [(len(ka), len(kb_), n_union, n_inter, jacc)],
        "n_kept_a long, n_kept_b long, n_union_kept long, "
        "n_inter long, jaccard_ppm long")

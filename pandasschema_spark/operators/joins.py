"""Skew-resistant joins: salted replication for medium dimensions.

Engine extension (no reference analog — SURVEY.md §2.5). The three join
regimes at 10^12 rows:

1. dim broadcastable        -> broadcast hash join (referential.py)
2. dim huge                 -> bloom screen + shuffle anti-join
                               (referential.py bloom_screen_violations)
3. dim medium + fact SKEWED -> THIS: a plain shuffle join sends every
   fact row with hot key K to ONE reducer; salting splits K's rows
   across ``salt_buckets`` reducers by extending the join key with a
   row-local salt and replicating the (small-enough) dim row once per
   bucket.

AQE's skew-join handles sort-merge skew when splits are detectable at
runtime; explicit salting is the deterministic, planner-independent
form — and the only one that also fixes the downstream
aggregate-on-the-same-key stage, since the salt can be kept through it
(partial agg per (key, salt), final per key).

The salt must be row-local and spread WITHIN each key — and it MUST be
deterministic per row, because it feeds a shuffle join key: a
nondeterministic salt (monotonically_increasing_id, rand) re-evaluates
differently when a map task is retried after a shuffle-fetch failure,
so reducers holding old-attempt output plus reducers that refetch can
lose or duplicate fact rows (the SPARK-23207 failure class). Default:
``pmod(hash(*all fact columns), salt_buckets)`` — content-derived, so
any retry reassigns every row to the same bucket. Pass ``salt_cols``
(e.g. a stable row-id column) to bound the hash cost on wide rows:
hashing a multi-MB binary payload column just to pick a bucket is the
one real cost of the safe default. Rows that are full duplicates share
a bucket under the default; an adversarial corpus of billions of
IDENTICAL hot-key rows would still skew — a stable row id via
``salt_cols`` is the fix there too.
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.exact import ppm
from ..resources import hold

DEFAULT_SALT_BUCKETS = 16


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    *,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    how: str = "inner",
    salt_cols: typing.Optional[typing.Sequence[str]] = None,
) -> DataFrame:
    """``fact.join(dim, on, how)`` with the fact side's hot keys spread
    over ``salt_buckets`` reducers. ``on`` must be a single equi-join
    column present in both frames (the common fact->dim case);
    ``how`` in ('inner', 'left'): semantics where dim-side multiplicity
    passes through replication unchanged.

    Cost model: dim shuffles salt_buckets-fold (pick salt_buckets ~
    hot-key-rows / target-rows-per-task, small — 16-64), fact shuffles
    once; versus the unsalted plan where the hottest key's entire row
    set lands on one task. The join result is EXACTLY the plain join —
    the oracle-gated query proves it."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'|'left'")
    fact_cols = [c for c in fact.columns]
    dim_cols = [c for c in dim.columns if c != on]
    cols = list(salt_cols) if salt_cols is not None else list(fact.columns)
    salt = F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(salt_buckets))
    f = fact.withColumn("__salt__", salt)
    d = dim.withColumn(
        "__salt__",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    joined = f.join(d, [on, "__salt__"], how)
    return joined.select(*fact_cols, *dim_cols)


def join_fanout(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    min_pairs: int = 2,
    top_k: typing.Optional[int] = None,
) -> DataFrame:
    """Pre-flight join-explosion audit: the exact per-key output
    cardinality ``n_left * n_right`` an inner equi-join on ``on`` would
    produce — run BEFORE a 100 TB join to find the keys that would blow
    it up (and to size ``salted_join``'s buckets / decide a pre-agg).

    Returns (``on``, n_left, n_right, pairs) for keys present on BOTH
    sides with ``pairs >= min_pairs``; ``top_k`` keeps the worst
    offenders (ordered pairs desc, key asc — deterministic, planned as
    TakeOrdered, no global sort). ``sum(pairs)`` over the unfiltered
    frame is the exact join output row count.

    Scale shape: each side collapses to its O(distinct keys) per-key
    histogram via a map-side-combined hash agg BEFORE the sides meet —
    the join multiplies two count tables, so the estimator's cost is
    O(|rows|) scan + O(distinct) shuffle no matter how explosive the
    join it predicts would be. NULL keys never join and are excluded.
    ``pairs`` is exact in int64 while per-side per-key counts stay
    below ~3e9 each (2^63 product bound) — past that the join it
    models is unrunnable anyway."""
    lc = (left.where(F.col(on).isNotNull()).groupBy(on)
          .agg(F.count(F.lit(1)).alias("n_left")))
    rc = (right.where(F.col(on).isNotNull()).groupBy(on)
          .agg(F.count(F.lit(1)).alias("n_right")))
    out = (lc.join(rc, on)
           .select(on, "n_left", "n_right",
                   (F.col("n_left") * F.col("n_right")).alias("pairs"))
           .where(F.col("pairs") >= min_pairs))
    if top_k is not None:
        out = out.orderBy(F.col("pairs").desc(), F.col(on)).limit(top_k)
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    *,
    strict: bool = False,
) -> DataFrame:
    """As-of (point-in-time) left join: attach to each left row the
    single latest right row with ``right_ts <= left_ts`` (``<`` when
    ``strict``) for the same ``on`` key. The time-series/feature-store
    lookup Spark has no built-in for.

    Engine extension (no reference analog — SURVEY.md §2.5). NOT a
    range-predicate join: a sort-merge join on ``l.ts >= r.ts`` blows up
    to O(|left| * matching prefix) intermediate rows before a
    deduplicating aggregate. Instead the classic union-tag carry-forward
    plan, ONE exchange + one per-partition sort and zero row expansion —
    at 10^12 rows the shuffle moves each input row exactly once:

      union(tagged left, tagged right)
        -> window last(right_payload, ignorenulls) over
             (partition by key order by (ts, side)
              rows unbounded preceding .. current row)
        -> filter side = left -> unpack

    Tie handling is the side sort key: inclusive puts right rows BEFORE
    left rows at equal ts (a right row at exactly left_ts matches),
    strict puts them after (it does not). Rows with NULL key or ts on
    the right are dropped (they can match nothing deterministically);
    left rows always survive (left-join semantics, NULL payload when no
    prior right row exists).

    The right side must be unique per (key, ts) — pre-aggregate it
    (e.g. ``groupBy(key, ts).agg(max(...))``) or the carried row at a
    duplicated timestamp is the last in an engine-defined union order.
    Right payload column names must not collide with left columns.

    Skew note: one hot key's full history lands in one task's sort; cap
    or bucket the key upstream (sessions._drop_hot_users pattern) when a
    key can exceed a task's memory.
    """
    payload = [c for c in right.columns if c != on]
    clash = sorted(set(payload) & set(left.columns))
    if clash:
        raise ValueError(
            "asof_join right payload columns collide with left: {} "
            "(rename before joining)".format(clash))
    r_side, l_side = (1, 0) if strict else (0, 1)
    r = (right
         .where(F.col(on).isNotNull() & F.col(right_ts).isNotNull())
         .select(F.col(on).alias("__k__"),
                 F.col(right_ts).alias("__t__"),
                 F.lit(r_side).alias("__s__"),
                 F.struct(*payload).alias("__r__")))
    r_type = r.schema["__r__"].dataType
    l = left.select(F.col(on).alias("__k__"),
                    F.col(left_ts).alias("__t__"),
                    F.lit(l_side).alias("__s__"),
                    F.lit(None).cast(r_type).alias("__r__"),
                    F.struct(*left.columns).alias("__l__"))
    u = l.unionByName(
        r.withColumn("__l__",
                     F.lit(None).cast(l.schema["__l__"].dataType)))
    w = (Window.partitionBy("__k__").orderBy("__t__", "__s__")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    m = u.withColumn("__m__", F.last("__r__", ignorenulls=True).over(w))
    picked = m.where(F.col("__s__") == l_side).where(F.col("__l__").isNotNull())
    return picked.select(
        *[F.col("__l__.{}".format(c)).alias(c) for c in left.columns],
        *[F.col("__m__.{}".format(c)).alias(c) for c in payload])


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
    *,
    band: int,
    max_bands: int = 1024,
) -> DataFrame:
    """Point-in-interval join: all (point, interval) pairs with the same
    ``on`` key and ``start_ts <= point_ts < end_ts``, WITHOUT the
    cartesian/broadcast-nested-loop plan Spark picks for a raw range
    predicate.

    Engine extension (no reference analog — SURVEY.md §2.5). Timestamps
    must be integral (epoch micros / days — cast upstream; integer math
    keeps the banding exact across engines). Both sides map to integer
    time bands of width ``band``; an interval replicates once per band
    it covers (``raise_error`` if one interval would cover more than
    ``max_bands`` — replication is the cost knob, pick
    band ~ typical interval length), a point lands in exactly ONE band,
    so each qualifying pair is emitted exactly once — the exact-overlap
    filter after the (key, band) equi-join needs no dedup. Plan shape:
    two shuffles on (key, band) + row-local filter; fan-out is bounded
    by max_bands, never by |points| x |intervals|.

    Interval payload column names must not collide with point columns.
    NULL key/ts rows on either side cannot match and are dropped.
    """
    clash = sorted((set(intervals.columns) - {on})
                   & set(points.columns))
    if clash:
        raise ValueError(
            "point_in_interval_join interval payload columns collide "
            "with points: {} (rename before joining)".format(clash))

    def _fdiv(col):
        # floor division for possibly-negative integral epochs. The
        # numerator is an exact multiple of band, but the long/long `/`
        # runs in DOUBLE: past 2^53 the multiple is no longer exactly
        # representable and the quotient can truncate one band low.
        # SQL's integral `div` divides bigints EXACTLY (no double, no
        # decimal): the numerator is a multiple of band (pmod returns
        # the non-negative residue, so num is the floor multiple even
        # for negative epochs), the division is even, and truncation
        # toward zero on an even division is exact with sign intact —
        # verified against // for negatives and 2^61-scale values.
        # Boundary: exact for |col| < 2^63 - band; within one band of
        # Long.MIN the subtraction overflows (an ANSI error, or a wrap
        # with ANSI off).
        # This replaced a decimal(38,0) floor_div ride that planned the
        # same result 5x slower (measured 5.0 -> 1.0 s on the gated
        # interval_join: decimal pmod/divide per row, including
        # single-threaded inside the broadcast build).
        num = col - F.pmod(col, F.lit(band))
        return F.call_function("div", num, F.lit(band).cast("long"))

    p = (points
         .where(F.col(on).isNotNull() & F.col(point_ts).isNotNull())
         .withColumn("__band__", _fdiv(F.col(point_ts))))
    b0 = _fdiv(F.col(start_ts))
    b1 = _fdiv(F.col(end_ts) - F.lit(1))
    n_bands = b1 - b0 + F.lit(1)
    guard = F.when(
        n_bands > F.lit(max_bands),
        F.raise_error(F.format_string(
            "point_in_interval_join: interval covers %s bands > "
            "max_bands={} — raise band width".format(max_bands),
            n_bands.cast("string")))
    ).otherwise(F.sequence(b0, b1))
    i = (intervals
         .where(F.col(on).isNotNull() & F.col(start_ts).isNotNull()
                & F.col(end_ts).isNotNull()
                & (F.col(end_ts) > F.col(start_ts)))
         .withColumn("__band__", F.explode(guard)))
    joined = p.join(i, [on, "__band__"], "inner").where(
        (F.col(point_ts) >= F.col(start_ts))
        & (F.col(point_ts) < F.col(end_ts)))
    keep = list(points.columns) + [c for c in intervals.columns if c != on]
    return joined.select(*keep)


def join_cardinality(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    *,
    top_k: int = 5,
) -> DataFrame:
    """Pre-join explosion guard: the EXACT inner-join output cardinality
    and its top contributing keys, computed WITHOUT running the join —
    sum over matched keys of cnt_a * cnt_b, from two slim per-key count
    aggregates joined on the key. The planner-side answer to "is this
    join about to emit 10^15 rows": run this O(distinct-keys) probe
    first, then pick the join strategy (or refuse) based on hard
    numbers instead of optimizer cardinality guesses — join_fanout
    measures the blow-up AFTER the fact; this predicts it before any
    fact row moves.

    Output (top_k rows): (key, cnt_a, cnt_b, pair_rows, total_rows,
    share_ppm) ordered by pair_rows desc with deterministic key
    tie-break. pair_rows/total_rows are exact decimal(38,0) internally
    (two 10^12-row inputs overflow int64 products) and emitted as
    BIGINT — exact below 2^63 predicted rows, i.e. any join anyone
    should ever actually run; a guard past that belongs to the caller
    refusing the join, not to this probe.

    Scale shape: each input reduces through its own map-side-combined
    groupBy(key).count() — the only shuffles are the two count frames
    and their slim key-join (AQE picks broadcast when one side's
    distinct-key count is small). NULL keys never match in an inner
    join and are excluded up front. The total is a one-row aggregate of
    the joined counts, broadcast back onto the top-k rows.
    """
    a = (df_a.where(F.col(key_a).isNotNull())
             .groupBy(F.col(key_a).alias("key"))
             .agg(F.count(F.lit(1)).alias("cnt_a")))
    b = (df_b.where(F.col(key_b).isNotNull())
             .groupBy(F.col(key_b).alias("key"))
             .agg(F.count(F.lit(1)).alias("cnt_b")))
    pairs = a.join(b, "key").select(
        "key", "cnt_a", "cnt_b",
        (F.col("cnt_a").cast("decimal(38,0)")
         * F.col("cnt_b").cast("decimal(38,0)")).alias("__pair__"))
    pairs = hold(pairs.persist())
    total = pairs.agg(F.sum("__pair__").alias("__total__"))
    top = pairs.orderBy(F.col("__pair__").desc(), F.col("key").asc()).limit(top_k)
    out = (top.crossJoin(F.broadcast(total))
           .select(
               "key",
               F.col("cnt_a").cast("long").alias("cnt_a"),
               F.col("cnt_b").cast("long").alias("cnt_b"),
               F.col("__pair__").cast("long").alias("pair_rows"),
               F.col("__total__").cast("long").alias("total_rows"),
               ppm(F.col("__pair__"), F.col("__total__"))
                .alias("share_ppm")))
    return out

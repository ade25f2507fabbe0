"""Gap-based sessionization over event streams.

Engine extension (no reference analog — SURVEY.md §2.5): assign every
event to a session, where a session ends when the gap to the user's next
event exceeds ``gap_us`` microseconds. The batch building block for
engagement metrics, rate-limit validation windows, and per-session
training-example assembly.

Scale shape at 10^12 events: ONE shuffle keyed by user_id. The lag
window and the running-sum window share the same (user_id) partitioning
and (ts, event_id) ordering — one Exchange + Sort. The per-session
aggregation groups on (user_id, session_no), which hash(user_id)
partitioning already satisfies (ClusteredDistribution subset rule), so
it adds NO second exchange — just a map-side-combinable agg
(tests/test_plan_quality.py locks the single-exchange property). Hot
users (bots) are the skew risk: one bot with 10^9 events puts its whole
history in ONE task's sort. The cap (default ON, repo invariant:
caps-default-on) pre-filters users whose TOTAL event count exceeds
``max_events_per_user`` via a groupBy-count + broadcast anti-join —
the same pattern as the LSH bucket cap, never a count-over-window
(which would itself shuffle the full event set per user before
filtering; tests/test_plan_quality.py locks the no-window property).
Pass ``max_events_per_user=None`` for exact/uncapped. The streaming
analog is ``F.session_window`` with a watermark.

Determinism: timestamps compare as integer microseconds (unix_micros ==
DuckDB epoch_us), session identity is (min event_id in session) — pure
functions of the data, safe for cross-engine oracle hashing.
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame, Window, functions as F

from ..frames import local_frame
from ..resources import hold
from .banding import hot_keys

DEFAULT_GAP_US = 30 * 60 * 1_000_000  # 30 minutes

#: default hot-user cap: a real user does not produce 100k events in one
#: table; above this the row is near-certainly a bot/test account whose
#: single-task sort would dominate the stage at 10^12-event scale.
DEFAULT_MAX_EVENTS_PER_USER = 100_000


def _drop_hot_users(df, user_col, max_events_per_user):
    """Exclude users whose total event count exceeds the cap: the
    banding.hot_keys count (map-side combined, shuffles one long per
    user) + broadcast LEFT ANTI join — the event rows themselves are
    only filtered, never shuffled by the cap. The join is NULL-SAFE
    (eqNullSafe), unlike banding.drop_hot_keys: groupBy collects all
    NULL-user rows into one group — the classic unauthenticated-bot
    signature, real traffic here — and a plain equi-anti predicate
    would never match that group's key, silently exempting exactly the
    hottest group from the cap."""
    if max_events_per_user is None:
        return df
    bots = (hot_keys([df], user_col, max_events_per_user)
            .select(F.col(user_col).alias("__hot_user__")))
    return (df.join(F.broadcast(bots),
                    F.col(user_col).eqNullSafe(F.col("__hot_user__")),
                    "left_anti"))


def _epoch_us(ts_col: str):
    """Wall-clock microseconds since epoch, timezone-free: parquet event
    times load as TIMESTAMP_NTZ (which unix_micros rejects), so diff
    against the NTZ epoch instead — bit-equal to DuckDB's epoch_us on
    the same naive timestamps, and independent of the session timezone
    for NTZ sources (tz-aware inputs are first localized to session
    wall time by the cast)."""
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col(ts_col).cast("timestamp_ntz"),
    )


def _epoch_bucket(ts_col: str, bucket_s: int):
    """Integer epoch seconds of ``ts_col`` (``_epoch_us``) floored to its
    ``bucket_s``-second bucket by the subtraction idiom, BIGINT. Never a
    double division by a large divisor: the quotient of a timestamp
    within ~0.2us below a boundary rounds up to the boundary before floor
    sees it. Raises ValueError unless ``bucket_s >= 1``."""
    if bucket_s < 1:
        raise ValueError("bucket_s must be >= 1")
    sec = (_epoch_us(ts_col) / 1_000_000).cast("long")
    return sec - (sec % F.lit(bucket_s))


def _with_session_no(df, user_col, ts_col, id_col, gap_us):
    us = _epoch_us(ts_col)
    w = Window.partitionBy(user_col).orderBy(us.asc(), F.col(id_col).asc())
    new_s = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn("session_no", F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))


def sessionize(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_us: int = DEFAULT_GAP_US,
    max_events_per_user: typing.Optional[int] = DEFAULT_MAX_EVENTS_PER_USER,
) -> DataFrame:
    """Per-event session labels: input columns plus
    (session_no, session_id) where session_no is the user's 1-based
    session ordinal and session_id the minimum event id in the session.
    The session_id window partitions on (user, session_no), which the
    existing hash(user) exchange already satisfies — re-sort only.
    Users above ``max_events_per_user`` total events are dropped up
    front (see module doc; None = exact)."""
    df = _drop_hot_users(df, user_col, max_events_per_user)
    with_no = _with_session_no(df, user_col, ts_col, id_col, gap_us)
    w_sess = Window.partitionBy(user_col, "session_no")
    return with_no.withColumn("session_id", F.min(id_col).over(w_sess))


def rate_limit_violations(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_us: int = 60 * 1_000_000,
    max_events: int = 1,
) -> DataFrame:
    """Tumbling-window rate-limit check: (user, window) pairs whose
    event count exceeds ``max_events`` — the bot/abuse validation a
    stream ingest gate runs. One row per violating (user_id,
    window_start_us, n_events).

    Scale shape: ONE map-side-combined hash agg keyed by (user_id,
    window) — the shuffle carries one long per (user, window) pair, the
    events themselves never move; the HAVING filter runs on the agg
    output. Windows are integer floor-division of epoch microseconds
    (``us div window_us``), bit-equal to DuckDB's ``//`` on the same
    integers, so the oracle hashes exactly."""
    us = _epoch_us(ts_col)
    win = df.withColumn("__us__", us).withColumn(
        "__win__", F.expr("__us__ div {}".format(int(window_us))))
    return (
        win.groupBy(F.col(user_col), F.col("__win__"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .where(F.col("n_events") > max_events)
        .select(
            user_col,
            (F.col("__win__") * window_us).alias("window_start_us"),
            "n_events",
        )
    )


def session_stats(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_us: int = DEFAULT_GAP_US,
    max_events_per_user: typing.Optional[int] = DEFAULT_MAX_EVENTS_PER_USER,
) -> DataFrame:
    """One row per session: (user_id, session_id, n_events, start_us,
    end_us, duration_us). session_id = min event id in the session.
    All integer-exact for cross-engine parity. Users above
    ``max_events_per_user`` total events are dropped up front (see
    module doc; None = exact)."""
    us = _epoch_us(ts_col)
    df = _drop_hot_users(df, user_col, max_events_per_user)
    with_no = _with_session_no(df, user_col, ts_col, id_col, gap_us)
    return (
        with_no.withColumn("__us__", us)
        .groupBy(F.col(user_col), F.col("session_no"))
        .agg(
            F.min(id_col).alias("session_id"),
            F.count(F.lit(1)).alias("n_events"),
            F.min("__us__").alias("start_us"),
            F.max("__us__").alias("end_us"),
        )
        .select(
            user_col, "session_id", "n_events", "start_us", "end_us",
            (F.col("end_us") - F.col("start_us")).alias("duration_us"),
        )
    )


def ordering_violations(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Out-of-order event detection: rows whose timestamp moves BACKWARD
    relative to the previous event in per-user sequence order — the
    ingest-quality check that catches clock skew, replayed batches and
    misordered log shipping before sessionization consumes the stream.

    One window over the same hash(user) exchange shape as sessionize
    (lag by sequence number); output is integer-microsecond exact:
    (user, seq, prev_us, us) for every violating row. NULL-user rows
    group together (window partitioning treats NULL as a key), matching
    the oracle's PARTITION BY semantics."""
    us = _epoch_us(ts_col)
    w = Window.partitionBy(user_col).orderBy(F.col(seq_col).asc())
    with_prev = df.select(
        F.col(user_col), F.col(seq_col), us.alias("__us__")
    ).withColumn("prev_us", F.lag("__us__").over(w))
    return (with_prev
            .where(F.col("prev_us").isNotNull()
                   & (F.col("__us__") < F.col("prev_us")))
            .select(user_col, seq_col, "prev_us",
                    F.col("__us__").alias("us")))


def freshness_violations(
    df,
    ts_col: str,
    group_col: str,
    *,
    as_of_us: int,
    max_lag_us: int,
):
    """Data-freshness SLO check: groups (feeds, event types, partitions)
    whose NEWEST record is older than ``as_of_us - max_lag_us`` — the
    "did the upstream feed silently stop?" monitor. ``as_of_us`` is an
    explicit parameter, never wall-clock-now, so runs are reproducible
    and backfills can re-evaluate historical SLOs.

    Output: (grp, max_us, lag_us) per stale group; groups whose newest
    timestamp is NULL-only are emitted with max_us NULL (a feed of
    unparseable timestamps is stale, not healthy).

    Scale shape: one map-side-combined max() hash agg — O(groups)
    shuffle, nothing row-scaled; the comparison is driver-free."""
    g = (df.select(F.col(group_col).alias("grp"),
                   _epoch_us(ts_col).alias("__us__"))
         .groupBy("grp")
         .agg(F.max("__us__").alias("max_us")))
    return (g.where(F.col("max_us").isNull()
                    | (F.col("max_us") < as_of_us - max_lag_us))
            .select("grp", "max_us",
                    (F.lit(as_of_us) - F.col("max_us")).alias("lag_us")))


def sequence_violations(
    df,
    group_col: str,
    ordinal_col: str,
    *,
    start: int = 1,
):
    """Per-group ordinal-contiguity validation: flag groups whose
    ordinal column is not exactly ``start, start+1, ..., start+n-1``
    — the detail-line / shard-index / chunk-sequence integrity check
    (did an upload drop line 3? did a retry write line 5 twice?).

    Emits one row per (group, defect kind):
      - ``duplicate`` — some ordinal appears more than once
      - ``gap``       — max-min+1 != #distinct (missing ordinal inside
                        the observed span)
      - ``bad_start`` — min(ordinal) != start (leading ordinals missing)
    with the group's measured (n_rows, n_distinct, min_ord, max_ord) on
    every row. Moment tricks (sum / sum-of-squares checks) are NOT
    enough — {1,5,6} and {2,3,7} share both moments — so duplicates are
    detected exactly, on the (group, ordinal) histogram.

    Scale shape: groupBy(group, ordinal) hash agg collapses the raw rows
    map-side (one full shuffle of distinct pairs), then the per-group
    agg shuffles only the already-collapsed histogram — O(distinct
    ordinals), not O(rows). The kind expansion is a row-local
    concat-of-arrays + explode on the O(groups) aggregate (no
    higher-order lambdas — codegen-clean, Generate node only).
    NULL ordinals are counted as a ``duplicate``-style defect on their
    own: they are excluded from min/max/distinct but any NULL makes the
    group fail with kind ``null_ordinal``."""
    g = F.col(group_col)
    o = F.col(ordinal_col)
    h = (df.select(g.alias("grp"), o.alias("ord"))
         .groupBy("grp", "ord")
         .agg(F.count(F.lit(1)).alias("c")))
    s = (h.groupBy("grp")
         .agg(F.sum(F.when(F.col("ord").isNotNull(), F.col("c"))
                    .otherwise(F.lit(0))).alias("n_rows"),
              F.count(F.col("ord")).alias("n_distinct"),
              F.min("ord").alias("min_ord"),
              F.max("ord").alias("max_ord"),
              F.sum(F.when(F.col("ord").isNull(), F.col("c"))
                    .otherwise(F.lit(0))).alias("n_null")))
    empty = F.array().cast("array<string>")

    def _kind(cond, name):
        return F.when(cond, F.array(F.lit(name))).otherwise(empty)

    kinds = F.concat(
        _kind(F.col("n_rows") > F.col("n_distinct"), "duplicate"),
        _kind((F.col("n_distinct") > 0)
              & (F.col("max_ord") - F.col("min_ord") + 1
                 != F.col("n_distinct")), "gap"),
        _kind((F.col("n_distinct") > 0)
              & (F.col("min_ord") != F.lit(start)), "bad_start"),
        _kind(F.col("n_null") > 0, "null_ordinal"),
    )
    return (s.select("grp", F.explode(kinds).alias("kind"),
                     F.col("n_rows").cast("long").alias("n_rows"),
                     F.col("n_distinct").cast("long").alias("n_distinct"),
                     F.col("min_ord").cast("long").alias("min_ord"),
                     F.col("max_ord").cast("long").alias("max_ord")))


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    *,
    tiebreak_col: str,
    max_events_per_user: typing.Optional[int] = DEFAULT_MAX_EVENTS_PER_USER,
) -> DataFrame:
    """Per-key ordered transition counts (the Markov bigram matrix over
    event types): ``(from_type, to_type, n)`` — the behavioral-drift /
    anomaly-profile input (compare matrices across releases with the
    drift operators), and the sequence analog of text collocations.

    Plan shape mirrors sessionize: ONE hash(user) exchange feeds the
    per-user ordered lag window (per-key windows scale — only a single
    key's rows meet in a task, bounded by the hot-user cap), then the
    transition rollup is a map-side-combined hash agg on the O(types^2)
    matrix — tiny by construction. Ordering is total per user via
    ``(ts, tiebreak)``; each user's first event has no predecessor and
    contributes nothing. Hot users above ``max_events_per_user`` drop
    wholesale up front (identical rule + shape as sessionize:
    groupBy-count + broadcast anti-join, never a count-over-window);
    ``None`` = exact."""
    df = _drop_hot_users(df, user_col, max_events_per_user)
    w = (Window.partitionBy(user_col)
         .orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc()))
    prev = F.lag(type_col).over(w)
    return (df.select(F.col(user_col), prev.alias("from_type"),
                      F.col(type_col).alias("to_type"))
              .where(F.col("from_type").isNotNull())
              .groupBy("from_type", "to_type")
              .agg(F.count(F.lit(1)).alias("n")))


def timeline_completeness(
    df: DataFrame,
    ts_col: str = "ts",
    bucket_s: int = 600,
    max_buckets: int = 10_000_000,
) -> DataFrame:
    """Zero-filled event timeline: (bucket_start epoch-seconds, n_events)
    for EVERY ``bucket_s``-second bucket between the first and last event
    — the data-outage detector (a bucket with n_events = 0 inside the
    span is a collection hole that per-row validation can never see,
    because the missing rows aren't there to fail a check).

    Scale shape: the events reduce to one map-side-combined
    groupBy(bucket) count (output = #non-empty buckets, not rows); the
    spine is a distributed ``spark.range`` over the span (never an
    explode of one driver row), and the fill join broadcasts the count
    side. Span and bucket count are O(1) driver math from a single
    min/max agg row; ``max_buckets`` guards a pathological span/bucket
    combination loudly instead of materializing a runaway spine. Buckets
    are integer epoch seconds (floor to ``bucket_s``) — no timestamp
    rendering or timezone semantics cross any engine boundary.
    """
    b = _epoch_bucket(ts_col, bucket_s).alias("bucket_start")
    counts = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(b)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    # counts is read twice (the O(buckets) lo/hi collect AND the fill
    # join): persist so the full event scan + hash agg runs ONCE — the
    # collect below materializes it while it is still small
    counts = hold(counts.persist())
    lim = counts.agg(F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi")).collect()[0]
    spark = df.sparkSession
    if lim["lo"] is None:
        counts.unpersist()
        return local_frame(spark, [], "bucket_start: bigint, n_events: bigint")
    lo, hi = int(lim["lo"]), int(lim["hi"])
    n_buckets = (hi - lo) // bucket_s + 1
    if n_buckets > max_buckets:
        counts.unpersist()
        raise ValueError(
            "timeline spans {} buckets > max_buckets={}; raise bucket_s "
            "or max_buckets".format(n_buckets, max_buckets)
        )
    spine = spark.range(lo, hi + bucket_s, bucket_s).select(F.col("id").alias("bucket_start"))
    return spine.join(F.broadcast(counts), "bucket_start", "left").select(
        "bucket_start",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
    )


def interval_overlap_violations(
    df,
    key_col: str,
    start_col: str,
    end_col: str,
    *,
    tiebreak_col: typing.Optional[str] = None,
    max_rows_per_key: typing.Optional[int] = 100_000,
):
    """Per-key interval-overlap validation: one row per interval that
    OVERLAPS an earlier interval of the same key (half-open [start, end)
    semantics — touching endpoints do not overlap). The double-booking /
    session-integrity check: a row is flagged iff its start precedes the
    running maximum end of the key's preceding intervals, which catches
    ALL overlap pairs while emitting each offending interval once (the
    pairwise self-join form explodes O(k^2) on hot keys and double-counts
    chains).

    Output: (key, start, end, prev_max_end) for violating rows.

    Scale shape: ONE hash(key) exchange + per-partition sort feeds the
    running-max window — the sessionize shuffle shape; the same hot-key
    cap convention applies (keys with more than ``max_rows_per_key``
    intervals are dropped WHOLESALE via groupBy-count + broadcast
    anti-join before the sort, never a count-over-window; None = exact).
    Rows with NULL start or end are excluded (the notnull check's
    finding). Ordering ties break on (start, end, tiebreak) so flagging
    is deterministic under equal starts.
    """
    base = df.where(F.col(start_col).isNotNull() & F.col(end_col).isNotNull())
    base = _drop_hot_users(base, key_col, max_rows_per_key)
    order = [F.col(start_col), F.col(end_col)]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = base.withColumn("prev_max_end", F.max(F.col(end_col)).over(w))
    return out.where(
        F.col("prev_max_end").isNotNull() & (F.col(start_col) < F.col("prev_max_end"))
    ).select(
        F.col(key_col), F.col(start_col), F.col(end_col), F.col("prev_max_end")
    )


def funnel_counts(
    df: DataFrame,
    stages: typing.Sequence[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    max_events_per_user: typing.Optional[int] = DEFAULT_MAX_EVENTS_PER_USER,
) -> DataFrame:
    """Ordered funnel conversion: how many users reached stage k of
    ``stages`` IN ORDER — a stage-k event counts only if some stage-(k-1)
    event happened STRICTLY BEFORE it (ordered by (epoch-us, event id),
    so simultaneous timestamps resolve deterministically and identically
    in any engine). The multi-stage generalization of event_transitions'
    adjacent-pair counts; out-of-order stage hits (purchase before any
    view) do not convert.

    Output: (stage_idx, stage, n_users) — one row per stage, n_users
    monotonically non-increasing by construction.

    Scale shape at 10^12 events: the events shuffle ONCE on
    hash(user); all k reach-flags are windows over the SAME
    (user)/(us, id) partitioning+ordering — one Exchange + one Sort
    total, each flag a running max over the strict prefix
    (rowsBetween(unboundedPreceding, -1)) of the previous flag. The
    per-user conversion agg groups on user (satisfied by the existing
    exchange, map-side combinable) and the final stage tally is an
    O(users) -> O(k) reduction. Hot users are pre-capped by the
    standard groupBy-count + broadcast anti-join (None = exact);
    gated-oracle rule: the oracle must replay the identical cap.
    """
    if not stages:
        raise ValueError("funnel_counts needs at least one stage")
    df = _drop_hot_users(df, user_col, max_events_per_user)
    us = _epoch_us(ts_col)
    base = df.where(
        F.col(user_col).isNotNull() & F.col(type_col).isNotNull()).select(
        F.col(user_col).alias("__u__"), F.col(type_col).alias("__t__"),
        us.alias("__us__"), F.col(id_col).alias("__i__"))
    prev = (Window.partitionBy("__u__").orderBy("__us__", "__i__")
            .rowsBetween(Window.unboundedPreceding, -1))
    cur = base.withColumn(
        "__r0__", (F.col("__t__") == stages[0]).cast("int"))
    for k in range(1, len(stages)):
        cur = cur.withColumn(
            "__r{}__".format(k),
            ((F.col("__t__") == stages[k])
             & (F.coalesce(F.max("__r{}__".format(k - 1)).over(prev),
                           F.lit(0)) == 1)).cast("int"))
    per_user = cur.groupBy("__u__").agg(
        *[F.max("__r{}__".format(k)).alias("__c{}__".format(k))
          for k in range(len(stages))])
    tallies = per_user.agg(
        *[F.sum("__c{}__".format(k)).alias("__n{}__".format(k))
          for k in range(len(stages))])
    stage_rows = F.array(*[
        F.struct(F.lit(k).cast("int").alias("stage_idx"),
                 F.lit(stages[k]).alias("stage"),
                 F.col("__n{}__".format(k)).cast("long").alias("n_users"))
        for k in range(len(stages))])
    return (tallies.select(F.explode(stage_rows).alias("s"))
            .select("s.stage_idx", "s.stage", "s.n_users"))


def retention_cohorts(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket_s: int = 86_400,
) -> DataFrame:
    """Cohort retention: users bucketed by their FIRST-activity period
    (``bucket_s``-second epoch buckets), counted in every later period
    they return — the (cohort_start, period, n_users) matrix behind
    every retention curve, and the drop-off detector row validation
    cannot see (a cohort that stops returning emits no rows to fail).

    period is the integer bucket delta from the cohort start (0 = the
    cohort's own bucket, so n_users at period 0 is the cohort size).

    Scale shape at 10^12 events: the raw rows collapse FIRST through a
    map-side-combined distinct on (user, bucket) — output is
    O(users x active-periods), never events. The cohort label is a
    min-over-user window on that slim frame (one exchange of the
    distinct pairs on hash(user)), and the final matrix agg is an
    O(users x periods) -> O(cohorts x periods) reduction. Buckets are
    integer epoch seconds via the subtraction idiom; the period delta
    divides exactly (both operands are bucket multiples).
    """
    bucket = _epoch_bucket(ts_col, bucket_s).alias("__b__")
    ud = (df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
            .groupBy(F.col(user_col).alias("__u__"), bucket)
            .agg(F.lit(1).alias("__one__")))
    w = Window.partitionBy("__u__")
    labeled = ud.select(
        F.min("__b__").over(w).alias("cohort_start"), F.col("__b__"))
    return (labeled
            .groupBy("cohort_start",
                     F.expr("(__b__ - cohort_start) div {}".format(int(bucket_s)))
                      .cast("long").alias("period"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
            .select(F.col("cohort_start").cast("long").alias("cohort_start"),
                    "period", "n_users"))


def inter_arrival_profile(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    max_events_per_user: typing.Optional[int] = DEFAULT_MAX_EVENTS_PER_USER,
    max_median_gap_us: typing.Optional[int] = None,
    min_events: int = 1,
) -> DataFrame:
    """Per-user inter-arrival-time profile: event count and the exact
    MEDIAN gap between consecutive events (microseconds, ceil-rank
    over the per-user gap list) — the bot/scraper signature
    rate_limit_violations cannot see (a crawler pacing itself under
    every window cap still has an inhumanly regular, tiny median gap;
    one burst in an otherwise human session does not).

    With ``max_median_gap_us`` set, only users at or below the gap
    threshold AND with at least ``min_events`` events return (the
    suspect list); ``None`` returns the full profile.

    Output: (user_id, n_events, median_gap_us); single-event users
    have no gaps and report median_gap_us NULL (and never match a
    threshold).

    Scale shape at 10^12 events: one hash(user) exchange; the lag
    window, the per-user gap ranking window and the final per-user agg
    all share that partitioning (extra intra-partition sorts, no new
    exchange). Hot users are pre-capped by the standard groupBy-count
    + broadcast anti-join BEFORE any sort. Rows narrow to
    (user, us, id) before shuffling.
    """
    df = _drop_hot_users(df, user_col, max_events_per_user)
    us = _epoch_us(ts_col)
    base = (df.where(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
              .select(F.col(user_col).alias("__u__"), us.alias("__us__"),
                      F.col(id_col).alias("__i__")))
    w = Window.partitionBy("__u__").orderBy("__us__", "__i__")
    gaps = base.withColumn(
        "__gap__", F.col("__us__") - F.lag("__us__").over(w))
    wg = Window.partitionBy("__u__").orderBy("__gap__")
    ranked = (gaps.where(F.col("__gap__").isNotNull())
              .withColumn("__rn__", F.row_number().over(wg))
              .withColumn("__ng__", F.count(F.lit(1)).over(
                  Window.partitionBy("__u__"))))
    medians = (ranked
               .where(F.col("__rn__") == F.expr("(__ng__ + 1) div 2"))
               .select("__u__", F.col("__gap__").alias("median_gap_us")))
    out = (gaps.groupBy("__u__")
           .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
           .join(medians, "__u__", "left")
           .select(F.col("__u__").alias("user_id"), "n_events",
                   F.col("median_gap_us").cast("long").alias("median_gap_us")))
    if max_median_gap_us is not None:
        out = out.where(F.col("median_gap_us").isNotNull()
                        & (F.col("median_gap_us") <= max_median_gap_us)
                        & (F.col("n_events") >= min_events))
    return out

"""Column statistics profiling (north_rule: "column stats").

One-scan, shuffle-light profile of a set of columns: non-null count,
null count, distinct count, min/max, and sum/mean for numerics. All
statistics for ALL columns compute in a SINGLE aggregation pass over one
scan (Catalyst partial+final agg, map-side combined), not one job per
column like a naive profiler.

Distinct counts: ``exact=False`` (default) uses approx_count_distinct
(HyperLogLog++, mergeable sketch — the only sane choice at 10^12 rows);
``exact=True`` uses COUNT(DISTINCT ...), which Spark expands into one
Expand + re-aggregation per distinct column — fine at test scale, used
by the DuckDB oracles.
"""

from __future__ import annotations

import typing

from pyspark.sql import Column as SparkColumn, DataFrame, functions as F

from ..frames import local_frame
from ..resources import hold
from ..validation import is_numeric_spark_type


def column_profile(
    df: DataFrame,
    columns: typing.Sequence[str],
    *,
    exact_distinct: bool = False,
) -> DataFrame:
    """Long-format profile: one output row per column with
    (column, n, nulls, distinct, min, max, sum, mean). min/max rendered
    as strings so heterogeneous column types share one schema; sum/mean
    are null for non-numeric columns."""
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs.append(F.count(col).alias("{}__n".format(c)))
        aggs.append(F.count(F.when(col.isNull(), 1)).alias("{}__nulls".format(c)))
        if exact_distinct:
            aggs.append(F.countDistinct(col).alias("{}__distinct".format(c)))
        else:
            aggs.append(F.approx_count_distinct(col).alias("{}__distinct".format(c)))
        aggs.append(F.min(col).cast("string").alias("{}__min".format(c)))
        aggs.append(F.max(col).cast("string").alias("{}__max".format(c)))
        if is_numeric_spark_type(dtypes[c]):
            aggs.append(F.sum(col.cast("double")).alias("{}__sum".format(c)))
            # exact percentile buffers a value->count map per column —
            # fine at oracle/test scale; the default is the mergeable
            # KLL/GK sketch, the only sane choice at 10^12 rows
            pc = F.percentile if exact_distinct else (
                lambda c_, q: F.approx_percentile(c_, F.lit(q), F.lit(10000)).cast("double"))
            aggs.append(pc(col, 0.5).alias("{}__p50".format(c)))
            aggs.append(pc(col, 0.95).alias("{}__p95".format(c)))
        else:
            aggs.append(F.lit(None).cast("double").alias("{}__sum".format(c)))
            aggs.append(F.lit(None).cast("double").alias("{}__p50".format(c)))
            aggs.append(F.lit(None).cast("double").alias("{}__p95".format(c)))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("{}__n".format(c)).cast("long").alias("n"),
            F.col("{}__nulls".format(c)).cast("long").alias("nulls"),
            F.col("{}__distinct".format(c)).cast("long").alias("distinct"),
            F.col("{}__min".format(c)).alias("min"),
            F.col("{}__max".format(c)).alias("max"),
            F.col("{}__sum".format(c)).alias("sum"),
            (F.col("{}__sum".format(c)) / F.col("{}__n".format(c))).alias("mean"),
            F.col("{}__p50".format(c)).alias("p50"),
            F.col("{}__p95".format(c)).alias("p95"),
        )
        for c in columns
    ]
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


#: coercion-profile patterns — shared LITERALLY with the DuckDB oracle
#: (plain anchored character-class regexes that mean the same thing in
#: Java regex and RE2); "would CAST succeed" is deliberately NOT the
#: definition (TRY_CAST edge semantics differ between engines — '1e5',
#: whitespace, '2024-02-30' — a gate must not depend on them)
COERCION_PATTERNS = {
    "int_like": r"^[+-]?[0-9]+$",
    "decimal_like": r"^[+-]?([0-9]+\.[0-9]*|\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?$",
    "date_like": r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$",
    "json_like": r"^[\[{].*[\]}]$",
}


def coercion_profile(df: DataFrame, cols: typing.Sequence[str]) -> DataFrame:
    """Schema-inference audit: per column, how many values LOOK like an
    int / decimal / date / JSON document, plus null and empty counts —
    (column, n_rows, n_nulls, n_empty, n_int_like, n_decimal_like,
    n_date_like, n_json_like). The "95% of this string column is integers
    — the 5% are the bug" signal that decides whether a CanConvert gate
    is worth adding, computed for every column in ONE scan + ONE
    map-side-combined aggregate row (row-local rlike predicates, no UDF),
    then a row-local struct explode to long form. Values are profiled on
    their string rendering, so numeric columns audit their formatting.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        s = F.col(c).cast("string")
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias("__p{}_null".format(i)))
        aggs.append(
            F.sum(F.when(s.isNotNull() & (F.length(s) == 0), 1).otherwise(0)).alias(
                "__p{}_empty".format(i)
            )
        )
        for name, pat in COERCION_PATTERNS.items():
            aggs.append(
                F.sum(F.when(s.rlike(pat), 1).otherwise(0)).alias("__p{}_{}".format(i, name))
            )
    g = df.agg(*aggs)
    structs = []
    for i, c in enumerate(cols):
        fields = [
            F.lit(c).alias("column"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col("__p{}_null".format(i)).cast("long").alias("n_nulls"),
            F.col("__p{}_empty".format(i)).cast("long").alias("n_empty"),
        ]
        for name in COERCION_PATTERNS:
            fields.append(F.col("__p{}_{}".format(i, name)).cast("long").alias("n_" + name))
        structs.append(F.struct(*fields))
    out_cols = ["column", "n_rows", "n_nulls", "n_empty"] + [
        "n_" + n for n in COERCION_PATTERNS
    ]
    return g.select(F.explode(F.array(*structs)).alias("v")).select(
        *["v." + c for c in out_cols]
    )


def file_audit(
    df: DataFrame,
    bad_pred: SparkColumn,
    *,
    file_col: typing.Optional[str] = None,
    basename_only: bool = True,
) -> DataFrame:
    """Per-source-file quality audit: (source_file, n_rows, n_bad,
    bad_ppm) — the bad-shard detector. A corrupt upstream writer usually
    poisons whole FILES (a truncated shard, one exporter running an old
    version), and per-row validation totals hide that structure; grouping
    the violation predicate by provenance names the offending shard
    directly, which is the delete/re-export decision a 100 TB ingest
    actually takes.

    ``bad_pred`` is any row-local boolean (a compiled schema bitmap != 0,
    a single check, a coercion-shape predicate). Provenance comes from
    ``file_col`` if given, else ``input_file_name()`` (valid only on
    frames still backed by a file scan — raises at analysis time
    otherwise, never silently empty). ``basename_only`` strips the
    directory so output is stable across mount points / bucket prefixes.

    Scale shape: ONE scan with the predicate fused in -> ONE
    map-side-combined groupBy(file) agg -> O(files) rows; bad_ppm is
    integer math (n_bad * 1e6 // n_rows). No skew beyond file sizes
    themselves — exactly the thing the audit reports.
    """
    src = F.col(file_col) if file_col else F.input_file_name()
    if basename_only:
        src = F.element_at(F.split(src, "/"), -1)
    g = df.groupBy(src.alias("source_file")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(bad_pred, 1).otherwise(0)).cast("long").alias("n_bad"),
    )
    return g.select(
        "source_file",
        "n_rows",
        "n_bad",
        F.expr("CAST((n_bad * 1000000) DIV n_rows AS BIGINT)").alias("bad_ppm"),
    )


def shard_balance(
    df: DataFrame,
    class_col: str,
    *,
    file_col: typing.Optional[str] = None,
    basename_only: bool = True,
) -> DataFrame:
    """Per-shard class-distribution audit: (source_file, value, n,
    obs_ppm, exp_ppm) — one row per (file, class), where ``obs_ppm`` is
    the class's share WITHIN the file and ``exp_ppm`` its global share.
    A shard whose rows are all individually valid but whose label mix is
    skewed (an exporter that filtered one class, a range-partitioned
    dump) shows obs_ppm far from exp_ppm; :func:`file_audit` cannot see
    this because no single row violates anything.

    Scale shape: ONE groupBy(file, class) exchange over the data; the
    per-file totals and global class totals then derive from that
    O(files x classes) aggregate — never a second data scan — and join
    back broadcast. NULL classes are excluded (the notnull check's
    finding). Integer ppm via BIGINT DIV, engine-reproducible.
    """
    src = F.col(file_col) if file_col else F.input_file_name()
    if basename_only:
        src = F.element_at(F.split(src, "/"), -1)
    g = (
        df.where(F.col(class_col).isNotNull())
        .groupBy(src.alias("source_file"), F.col(class_col).alias("value"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    per_file = g.groupBy("source_file").agg(F.sum("n").cast("long").alias("file_n"))
    global_cls = g.groupBy("value").agg(F.sum("n").cast("long").alias("cls_n"))
    total = g.agg(F.sum("n").cast("long").alias("tot_n"))
    return (
        g.join(F.broadcast(per_file), "source_file")
        .join(F.broadcast(global_cls), "value")
        .crossJoin(F.broadcast(total))
        .select(
            "source_file",
            "value",
            "n",
            F.expr("CAST((n * 1000000) DIV file_n AS BIGINT)").alias("obs_ppm"),
            F.expr("CAST((cls_n * 1000000) DIV tot_n AS BIGINT)").alias("exp_ppm"),
        )
    )


def null_bursts(
    df: DataFrame,
    ts_col: str,
    cols: typing.Sequence[str],
    *,
    bucket_s: int = 86400,
) -> DataFrame:
    """Field-outage profile: (column, bucket_start_s, n_rows, n_null,
    null_ppm, excess_ppm) per time bucket — a column going dark while
    rows keep flowing. timeline_completeness (sessions.py) catches
    missing ROWS; this catches missing VALUES: an upstream producer that
    dropped one field emits perfectly valid-looking traffic whose
    per-bucket null rate for that field jumps. ``excess_ppm`` = the
    bucket's null_ppm minus the column's whole-table null_ppm (signed —
    cleaner-than-usual buckets read negative), so the burst stands out
    without anyone knowing the "normal" rate in advance.

    Scale shape: ONE scan -> ONE map-side-combined groupBy(bucket) agg
    carrying 2 counters per audited column -> row-local struct explode
    to long form -> the global rates join back as ONE broadcast row.
    Integer epoch buckets via the NTZ-safe epoch rule (sessions._epoch_us
    — DuckDB double-epoch casts ROUND where Spark truncates; only
    integer microseconds agree). Rows with NULL timestamps are excluded
    (they have no bucket; the notnull check owns them).
    """
    from .sessions import _epoch_bucket

    if not cols:
        raise ValueError("cols must be non-empty")
    bucket = _epoch_bucket(ts_col, bucket_s).cast("long")
    base = df.where(F.col(ts_col).isNotNull())
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long").alias("__nn{}".format(i))
        )
    g = base.groupBy(bucket.alias("bucket_start_s")).agg(*aggs)
    # global totals fold from the per-bucket aggregate — every base row
    # has exactly one bucket, so this is identical to re-aggregating the
    # raw data and saves the second full scan (the docstring's ONE-scan
    # shape; the shard_balance/chi_square_onset convention)
    tot = g.agg(
        F.sum("__n").cast("long").alias("__tn"),
        *[F.sum("__nn{}".format(i)).cast("long").alias("__tnn{}".format(i))
          for i in range(len(cols))]
    )
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col("__nn{}".format(i)).alias("n_null"),
            F.expr("CAST((__nn{i} * 1000000) DIV __n AS BIGINT)".format(i=i)).alias("null_ppm"),
            (
                F.expr("CAST((__nn{i} * 1000000) DIV __n AS BIGINT)".format(i=i))
                - F.expr("CAST((__tnn{i} * 1000000) DIV __tn AS BIGINT)".format(i=i))
            ).alias("excess_ppm"),
        )
        for i, c in enumerate(cols)
    ]
    return (
        g.crossJoin(F.broadcast(tot))
        .select(F.col("bucket_start_s"), F.explode(F.array(*structs)).alias("v"))
        .select("bucket_start_s", "v.column", "v.n_rows", "v.n_null",
                "v.null_ppm", "v.excess_ppm")
    )


def violation_hotspots(
    df: DataFrame,
    flag_col: SparkColumn,
    dims: typing.Sequence[str],
    *,
    min_support: int = 1000,
    min_lift_pct: int = 115,
) -> DataFrame:
    """Localize WHERE violations concentrate: for every value of every
    candidate dimension, the violation rate (integer ppm) vs the global
    rate, keeping values with ``n >= min_support`` whose rate shows
    ``rate_ppm * 100 >= min_lift_pct * global_ppm`` lift — the
    "violations are 1.2x over-represented in shard X / supplier Y"
    answer a data-debugging session starts from (Scorpion-style
    single-attribute explanations; deeper conjunctions are a re-run
    over the flagged slice).

    One scan, one exchange: the row flag and the dim melt (explode of
    an array of (dim, value) structs — a plain projection, no
    higher-order functions) feed a single (dim, value) hash-agg with
    map-side combine; the global rate derives from the SAME aggregate
    (summing one dimension's rows) and joins back as a broadcast
    1-row frame. Output size is the sum of dimension cardinalities —
    pick dims accordingly (that's the operator's contract, same as any
    GROUP BY profiler). All arithmetic is integer (`div`), so oracles
    hash exactly; rates use floor division — both engines on
    non-negative counts.

    Returns (dim, value, n, bad_n, rate_ppm, global_ppm), all counts
    BIGINT; ``value`` is the dimension value cast to string (NULL
    groups as NULL in both engines).
    """
    dims = list(dims)
    # NULL flags count as not-violating (mirrors the oracles' CASE WHEN
    # ... THEN 1 ELSE 0 END): without the coalesce, a group whose flags
    # are all NULL gets bad_n=NULL and silently drops out of the output
    melted = df.select(
        F.coalesce(flag_col.cast("int"), F.lit(0)).alias("__bad__"),
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("dim"), F.col(d).cast("string").alias("value"))
            for d in dims
        ])).alias("dv"),
    ).select(F.col("dv.dim").alias("dim"), F.col("dv.value").alias("value"), "__bad__")
    agg = melted.groupBy("dim", "value").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__bad__").cast("long").alias("bad_n"),
    )
    glob = (
        agg.where(F.col("dim") == dims[0])
        .agg(F.sum("n").cast("long").alias("__gn__"),
             F.sum("bad_n").cast("long").alias("__gbad__"))
    )
    return (
        agg.crossJoin(F.broadcast(glob))
        .withColumn("rate_ppm", F.expr("bad_n * 1000000L div n"))
        .withColumn("global_ppm", F.expr("__gbad__ * 1000000L div __gn__"))
        # bad_n > 0 guards the degenerate global_ppm == 0 case (a
        # global rate under 1 ppm floors to 0 and the lift condition
        # becomes 0 >= 0, flooding the output with zero-violation
        # values); when global_ppm > 0 the lift filter already implies
        # bad_n > 0, so the guard binds ONLY in the degenerate case —
        # the oracle applies the identical predicate (house cap rule)
        .where((F.col("n") >= min_support)
               & (F.col("bad_n") > 0)
               & (F.col("rate_ppm") * 100 >= F.lit(min_lift_pct) * F.col("global_ppm")))
        .select("dim", "value", "n", "bad_n", "rate_ppm", "global_ppm")
    )


def missingness_profile(df: DataFrame, cols: typing.Sequence[str]) -> DataFrame:
    """Null-pattern (missingness co-occurrence) profile: one row per
    observed null-mask over ``cols`` — (pattern, n_rows, n_missing) with
    pattern[i] = '1' iff cols[i] IS NULL. Answers "which fields go
    missing TOGETHER" (upstream outages drop field groups, not single
    fields — the per-column null counts a plain profiler reports cannot
    distinguish correlated from independent missingness; this is R
    md.pattern / naniar for a 10^12-row table).

    One scan, one map-side-combined hash-agg keyed on the mask string;
    output cardinality <= 2^len(cols) but in practice a handful of real
    patterns. Per-column marginals are derivable from the output
    (sum n over patterns with '1' at i), so they are not re-emitted.
    Row-local mask construction only (CASE/concat — codegen-clean).
    """
    mask = F.concat(*[
        F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0")) for c in cols
    ]).alias("pattern")
    return (
        df.select(mask)
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "pattern", "n_rows",
            F.length(F.regexp_replace("pattern", "0", "")).cast("long").alias("n_missing"),
        )
    )


def timeline_anomaly(
    df: DataFrame,
    ts_col: str = "ts",
    *,
    bucket_s: int = 86_400,
    k_tenths: int = 50,
    max_buckets: int = 10_000_000,
) -> DataFrame:
    """Volume-anomaly detection over the event timeline: buckets whose
    event count deviates from the median daily volume by more than
    ``k_tenths/10`` MADs (median absolute deviation — robust, so one
    outage day cannot drag its own detection threshold the way a
    mean/stddev gate does). Composes timeline_completeness' ZERO-FILLED
    spine, so a silent day inside the span is an anomaly row with
    n_events = 0 — the outage per-row validation can never see — and
    partial edge buckets (first/last day of collection) flag
    themselves.

    Integer-exact: the median and MAD are colstats.exact_quantiles at
    q = 500 per mille (rank (N+1) div 2 over the sorted buckets, the
    repo's discrete quantile rule) and the flag is the cross-multiplied
    compare ``10 * |n - med| > k_tenths * mad`` — no float crosses an
    engine.
    When mad = 0 (a perfectly regular timeline) any deviation flags.

    Output per anomalous bucket: (bucket_start, n_events, med, mad,
    dev = |n - med|).

    Scale shape: the raw rows reduce through timeline_completeness'
    single map-side-combined bucket agg; everything after — two
    ceil-rank order statistics and the final filter — runs over the
    O(buckets) frame (bounded by ``max_buckets``), with the two scalar
    statistics reaching the driver as single rows, the zscore-cutoff
    convention.
    """
    from .colstats import exact_quantiles
    from .sessions import timeline_completeness

    counts = hold(timeline_completeness(
        df, ts_col, bucket_s=bucket_s, max_buckets=max_buckets).persist())
    def median(col):
        rows = exact_quantiles(counts, col, [500]).collect()
        return int(rows[0]["value"]) if rows else None

    med = median("n_events")
    if med is None:
        counts.unpersist()
        return local_frame(
            df.sparkSession, [],
            "bucket_start: bigint, n_events: bigint, med: bigint, "
            "mad: bigint, dev: bigint")
    dev = F.abs(F.col("n_events") - F.lit(med))
    mad = median(dev)
    return (counts.where(dev * 10 > F.lit(k_tenths * mad))
        .select("bucket_start", "n_events",
                F.lit(med).cast("long").alias("med"),
                F.lit(mad).cast("long").alias("mad"),
                dev.cast("long").alias("dev")))


def timeline_trend(
    df: DataFrame,
    ts_col: str = "ts",
    *,
    group_col: typing.Optional[str] = None,
    bucket_s: int = 86_400,
) -> DataFrame:
    """Integer-exact OLS volume trend over the event timeline, per
    ``group_col`` cohort (None = one global row): is this source's /
    event type's daily volume systematically climbing or decaying?
    timeline_anomaly flags individual outlier buckets against a robust
    median; a slow 2%-a-day decline never trips a MAD gate — the
    regression slope is the detector for it (the "feed is quietly
    dying" signature an on-call wants before the volume hits zero).

    Per cohort, over the per-bucket counts (x = bucket index =
    epoch-seconds div bucket_s, y = n_events), emits the exact OLS
    slope as a rational: slope = slope_num / slope_den with
    ``slope_num = n*Σxy − Σx*Σy`` and ``slope_den = n*Σx² − (Σx)²``
    (both invariant under x translation, so no centering pass is
    needed). All intermediate sums run in decimal(38) (worst term
    n·Σx² ≈ 10^7·10^7·(2·10^4)² ≈ 4·10^21 ≪ 10^38). The emitted
    rational is cast to BIGINT — exact while |num| < 2^63, i.e.
    roughly n_buckets³ · per-bucket-volume < 9·10^18 (a decade of day
    buckets supports ~10^8 events/bucket; past that, widen
    ``bucket_s`` — the trend question doesn't sharpen with finer
    buckets anyway). No division crosses an engine: callers threshold
    on the cross-multiplied rational, and ``direction`` classifies
    sign ('up'/'down'/'flat'). Cohorts with a single active bucket
    have slope_den = 0 and report 'flat'.

    Buckets derive via the NTZ-safe integer idiom (sec = epoch_us
    div 1e6; never floor(epoch_us / big_divisor) — see CLAUDE.md).
    SILENT buckets contribute no (x, y) point (no zero-fill): a cohort
    that stops emitting entirely freezes its trend rather than
    trending down — total-outage detection is timeline_anomaly's
    zero-filled job; the two compose (documented division of labor).
    NULL timestamps are excluded; a NULL group is its own cohort.

    Scale shape at 10^12 events: ONE map-side-combined
    (group, bucket) count agg is the only data-sized exchange; the
    moment sums reduce the O(groups × buckets) frame to O(groups)
    rows in a second tiny agg. Nothing collects to the driver.
    """
    from .sessions import _epoch_us

    if bucket_s < 1:
        raise ValueError("bucket_s must be >= 1")
    gkeys = ["grp"] if group_col else []
    base = (df.where(F.col(ts_col).isNotNull())
              .select(*([F.col(group_col).alias("grp")] if group_col else []),
                      (_epoch_us(ts_col) / 1_000_000).cast("long")
                      .alias("__sec__")))
    # integer `div` (epoch secs are nonnegative, so trunc == floor ==
    # DuckDB //) — never double division near bucket boundaries
    counts = (base.select(*gkeys,
                          F.expr("__sec__ div {}".format(int(bucket_s)))
                          .alias("__x__"))
                  .groupBy(*gkeys, "__x__")
                  .agg(F.count(F.lit(1)).alias("__y__")))
    dx = F.col("__x__").cast("decimal(38,0)")
    dy = F.col("__y__").cast("decimal(38,0)")
    mom = counts.groupBy(*gkeys).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n__"),
        F.sum(dx).alias("__sx__"),
        F.sum(dy).alias("__sy__"),
        F.sum(dx * dy).alias("__sxy__"),
        F.sum(dx * dx).alias("__sxx__"),
    )
    num = (F.col("__n__") * F.col("__sxy__") - F.col("__sx__") * F.col("__sy__"))
    den = (F.col("__n__") * F.col("__sxx__") - F.col("__sx__") * F.col("__sx__"))
    return mom.select(
        *gkeys,
        F.col("__n__").cast("long").alias("n_buckets"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.when(den == 0, F.lit("flat"))
         .when(num > 0, F.lit("up"))
         .when(num < 0, F.lit("down"))
         .otherwise(F.lit("flat")).alias("direction"),
    )


def format_mask_profile(
    df: DataFrame,
    columns: typing.Sequence[str],
    collapse_runs: bool = True,
    denom: int = 1_000_000,
) -> DataFrame:
    """Format-mask histogram per string column — the shape profiler a
    schema-inference / contract-bootstrap pass runs before writing
    pattern rules (the reference stops at MatchesPatternValidation,
    which CHECKS a known format; this DISCOVERS what formats exist,
    reference validation.py:268-296 being the checked form): every
    value maps to its character-class mask (digits -> '9', ASCII
    letters -> 'A', everything else — punctuation, spaces, non-ASCII —
    kept verbatim, because the separators ARE the format signal), and
    masks histogram per column. '1-URGENT' reads '9-AAAAAA'; with
    ``collapse_runs`` (default) character-class runs collapse
    ('9+'->'9', 'A+'->'A') so '1-URGENT' and '4-LOW' share one mask
    '9-A' — the variant that answers "how many FORMATS does this
    column have" rather than "how many widths".

    Output per (column, mask): (column, mask, n_rows, share_ppm) with
    share_ppm = floor(n_rows * denom / column total). A NULL value is
    mask NULL, its own histogram row (a missing value is a shape fact
    here, unlike concentration_profile's excluded-NULL contract —
    profiling wants the null share visible next to the format mix).
    ASCII-only letter classes are deliberate: Java and RE2 agree on
    [A-Za-z] byte-for-byte, while locale classes like \\p{L} are an
    engine-divergence trap; non-ASCII letters surviving verbatim into
    the mask is the documented (and useful — mojibake shows up as its
    own masks) consequence.

    Strings only — a numeric/date column must be cast by the caller
    with an explicit, engine-stable rendering (raw double casts render
    engine-specifically: the exact_quantiles quantize-first rule).

    Scale shape at 10^12 rows: masks are computed INSIDE the scan
    projection (codegen translate + regexp chain, no HOFs), so raw values
    never shuffle — the exchange after the melt-explode carries
    O(sum per-column distinct masks) counter rows via a
    map-side-combined (col, mask) agg; per-column totals are a
    sum-over-window on that AGGREGATE frame (the lang_confusion /
    drift-histogram convention — a window partition also groups the
    NULL-mask row with its column, no join needed). Collapsed masks
    are bounded by real format diversity; a pathological free-text or
    random-unicode column degenerates to O(distinct) masks — run
    concentration_profile first to find key-like columns and keep them
    out of ``columns``.
    """
    from pyspark.sql import Window

    if not columns:
        raise ValueError("columns must be non-empty")
    from pyspark.sql.types import StringType
    for c in columns:
        if not isinstance(df.schema[c].dataType, StringType):
            raise TypeError(
                "format_mask_profile needs string columns; {} is {} — "
                "cast it with an engine-stable rendering first".format(
                    c, df.schema[c].dataType.simpleString()))
    if denom < 1:
        raise ValueError("denom must be >= 1")

    def _mask(col: SparkColumn) -> SparkColumn:
        # character-CLASS mapping rides translate (a per-char map
        # lookup, codegen-clean) rather than a regex NFA pass per
        # value — measured 0.46 -> 0.39 s on the gated 3-column melt,
        # byte-identical histograms; run-collapse genuinely needs the
        # regex and runs on the already-masked (shorter) string
        m = F.translate(col, "0123456789", "9" * 10)
        m = F.translate(
            m,
            "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz",
            "A" * 52)
        if collapse_runs:
            m = F.regexp_replace(m, "9+", "9")
            m = F.regexp_replace(m, "A+", "A")
        return m

    structs = [F.struct(F.lit(c).alias("col"),
                        _mask(F.col(c)).alias("mask"))
               for c in columns]
    melted = (df.select(F.explode(F.array(*structs)).alias("m"))
                .select(F.col("m.col").alias("col"),
                        F.col("m.mask").alias("mask")))
    per = melted.groupBy("col", "mask").agg(
        F.count(F.lit(1)).alias("n_rows"))
    per = per.withColumn(
        "__t__", F.sum("n_rows").over(Window.partitionBy("col")))
    return per.select(
        F.col("col").alias("column"), "mask",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.expr("n_rows * {} div __t__".format(int(denom)))
         .cast("long").alias("share_ppm"))

"""Order-statistics validation operators: exact discrete quantiles,
per-group integer-exact z-score outliers, heavy hitters.

Engine extensions (no reference analog — SURVEY.md §2.5): the north
rule's "column stats + distribution-drift" family needs more than
histograms — release gates are written against quantiles ("p99 clip
duration < 30s"), per-cohort outlier rates, and hot-key diagnostics
(the thing you run BEFORE deciding to salt a shuffle).

All three are integer-exact so the DuckDB oracles hash bit-for-bit:
quantiles use the ceil-rank discrete definition over integer values,
outliers compare against driver-derived integer cutoffs (exact big-int
math, no float sqrt in either engine), heavy hitters break count ties
by value.

Scale shapes at 10^12 rows:
- exact_quantiles: ONE hash-agg shuffle of O(distinct values); the
  cumulative window then runs over the value HISTOGRAM (k rows, one
  task) — exact and cheap for bounded-cardinality columns (sample
  rates, durations in ms, prices in cents). For genuinely unbounded
  columns quantize first (floor to a grid); the quantile of the
  quantized column is the quantized quantile, and k stays bounded by
  the grid. The final join against the O(#quantiles) rank frame is a
  broadcast. group_quantiles runs the same ceil-rank core
  (``_ceil_rank_quantiles``) with its windows partitioned by group.
- zscore_outliers: per-group (n, sum, sum-of-squares) via ONE
  map-side-combined hash agg (decimal(38) accumulators — cent^2 sums
  overflow int64 past ~10^5 rows); O(groups) rows reach the driver,
  which turns them into exact integer CUTOFFS on the raw value
  (isqrt on arbitrary-precision ints — the rows' own engine never
  multiplies big numbers); cutoffs broadcast-join back and the flag is
  a row-local integer compare fused into the scan.
- heavy_hitters: hash-agg + TakeOrdered(k) — no global sort.
"""

from __future__ import annotations

import functools
import math
import typing

from pyspark.sql import DataFrame, Window, functions as F

from ..frames import local_frame
from ..functions.exact import ppm


def _ceil_rank_quantiles(df: DataFrame, group_cols, value_col, qs_pm, denom: int) -> DataFrame:
    """The one ceil-rank core of exact_quantiles and group_quantiles:
    ([grp,] q_pm, rank, n, value), for each group and each q the
    smallest value whose within-group cumulative count reaches rank
    ceil(q * n / denom). ``group_cols`` is empty (one global group) or
    one column, renamed ``grp``. A (group, value) histogram; the
    cumulative count and the group total are windows over it
    partitioned by the group (none for the global form); the rank join
    is a broadcast of the O(qs) rank frame."""
    bad = [q for q in qs_pm if not (0 < int(q) <= denom)]
    if bad:
        raise ValueError(
            "qs_pm must satisfy 0 < q <= denom={} (got {}): q=0 or q>denom "
            "would compute a rank outside [1, n] and silently emit no row "
            "for that quantile".format(denom, bad))
    keys = ["grp"] if group_cols else []
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    h = (df.select(*[F.col(g).alias("grp") for g in group_cols], v.alias("value"))
           .where(F.col("value").isNotNull())
           .groupBy(*keys, "value").agg(F.count(F.lit(1)).alias("c")))
    wc = (Window.partitionBy(*keys).orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = h.select(*keys, "value", "c",
                   F.sum("c").over(wc).alias("cum"),
                   F.sum("c").over(Window.partitionBy(*keys)).alias("n"))
    qdf = local_frame(df.sparkSession, [(int(q),) for q in qs_pm], "q_pm long")
    # ceil(q*n/denom) as pure integer arithmetic: (a + b - 1) div b
    rank = F.expr("(q_pm * n + {d} - 1) div {d}".format(d=denom))
    return (cum.join(F.broadcast(qdf),
                     (F.col("cum") >= rank) & ((F.col("cum") - F.col("c")) < rank))
            .select(*keys, "q_pm", rank.alias("rank"), "n", "value"))


def exact_quantiles(
    df: DataFrame,
    value_col,
    qs_pm: typing.Sequence[int],
    *,
    denom: int = 1000,
) -> DataFrame:
    """Exact discrete quantiles of an integral column: for each q (in
    units of 1/denom, e.g. per-mille) the smallest value v whose
    cumulative count reaches rank ceil(q*n/denom) — the classic
    quantile-disc definition, integer-exact across engines.

    Returns (q_pm, rank, n, value) — one row per requested quantile.
    ``value_col`` may be a column name or a Column expression (cast it
    to an integral type for cross-engine hashing). NULLs are excluded
    from n, matching SQL aggregate semantics. The global case of the
    one ceil-rank core (``_ceil_rank_quantiles``), which
    group_quantiles shares.
    """
    return _ceil_rank_quantiles(df, [], value_col, qs_pm, denom)


class GroupCutoffs(typing.NamedTuple):
    group: typing.Tuple
    n: int
    lo_cut: int  # outlier iff value <= lo_cut
    hi_cut: int  # outlier iff value >= hi_cut


def zscore_cutoffs(
    df: DataFrame,
    value_col,
    group_cols: typing.Sequence[str],
    *,
    k: int = 3,
) -> typing.List[GroupCutoffs]:
    """Per-group exact integer outlier cutoffs for |x - mean| > k*std.

    The float-free identity: with integer x, n, s = sum(x),
    ss = sum(x^2), the condition (x-mean)^2 > k^2 * var is exactly
    (n*x - s)^2 > C where C = k^2*(n*ss - s^2). Since |n*x - s| is an
    integer, that is |n*x - s| >= isqrt(C)+1, i.e.
    x >= ceil((s+t)/n) or x <= floor((s-t)/n) with t = isqrt(C)+1 —
    two integer CUTOFFS per group, computed here with Python's
    arbitrary-precision ints (no overflow, no float sqrt). ``k`` must
    be an integer for the identity to stay exact."""
    if k != int(k):
        raise ValueError("k must be an integer for exact cutoffs")
    k = int(k)
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    dec = v.cast("decimal(19,0)")
    stats = (df.select(*group_cols, v.alias("__v__"), dec.alias("__vd__"))
               .where(F.col("__v__").isNotNull())
               .groupBy(*group_cols)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("__vd__").alias("s"),
                    F.sum(F.col("__vd__") * F.col("__vd__")).alias("ss"))
             ).collect()
    out = []
    for r in stats:
        n, s, ss = int(r["n"]), int(r["s"]), int(r["ss"])
        c = k * k * (n * ss - s * s)
        t = math.isqrt(c) + 1
        lo = (s - t) // n                    # floor
        hi = -((-(s + t)) // n)              # ceil
        out.append(GroupCutoffs(tuple(r[g] for g in group_cols), n, lo, hi))
    return out


def zscore_outliers(
    df: DataFrame,
    value_col,
    group_cols: typing.Sequence[str],
    *,
    k: int = 3,
    keep_cols: typing.Sequence[str] = (),
) -> DataFrame:
    """Rows whose integral ``value_col`` deviates from its group mean by
    strictly more than k standard deviations (population std), exactly.
    Returns group_cols + keep_cols + (value, lo_cut, hi_cut)."""
    cuts = zscore_cutoffs(df, value_col, group_cols, k=k)
    spark = df.sparkSession
    schema_src = df.select(*group_cols).schema
    cut_rows = [(*c.group, c.lo_cut, c.hi_cut) for c in cuts]
    from pyspark.sql import types as T

    cut_schema = T.StructType(
        list(schema_src.fields)
        + [T.StructField("lo_cut", T.LongType()),
           T.StructField("hi_cut", T.LongType())])
    cut_df = local_frame(spark, cut_rows, cut_schema)
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    left = (df.select(*group_cols, *keep_cols, v.alias("value"))
              .where(F.col("value").isNotNull()))
    # NULL-safe join keys: zscore_cutoffs computes cutoffs for a NULL
    # cohort (groupBy keeps NULLs as their own group — the file-wide
    # convention), so a plain equi-join would silently drop every
    # NULL-group row here and never report its outliers.
    if group_cols:
        cond = functools.reduce(
            lambda acc, g: acc & left[g].eqNullSafe(cut_df[g]),
            group_cols[1:],
            left[group_cols[0]].eqNullSafe(cut_df[group_cols[0]]))
        joined = left.join(F.broadcast(cut_df), cond).select(
            *[left[g] for g in group_cols], *[left[c] for c in keep_cols],
            left["value"], cut_df["lo_cut"], cut_df["hi_cut"])
    else:
        joined = left.crossJoin(F.broadcast(cut_df))
    return (joined.where((F.col("value") <= F.col("lo_cut"))
                         | (F.col("value") >= F.col("hi_cut")))
            .select(*group_cols, *keep_cols, "value", "lo_cut", "hi_cut"))


def heavy_hitters(
    df: DataFrame,
    col,
    *,
    top_k: int = 50,
) -> DataFrame:
    """The ``top_k`` most frequent values of a column with deterministic
    tie-breaking (count desc, value asc): the pre-salting diagnostic —
    run this before keying a 10^12-row shuffle on the column. Hash-agg
    (map-side combined, O(distinct) shuffle) + TakeOrdered(k); the rank
    window runs over the already-limited k rows only."""
    c = F.col(col) if isinstance(col, str) else col
    counts = (df.select(c.alias("value")).where(F.col("value").isNotNull())
                .groupBy("value").agg(F.count(F.lit(1)).alias("cnt")))
    topk = counts.orderBy(F.desc("cnt"), F.asc("value")).limit(top_k)
    w = Window.orderBy(F.desc("cnt"), F.asc("value"))
    return topk.withColumn("rank", F.row_number().over(w))


def heavy_hitters_by(
    df: DataFrame,
    group_col,
    value_col,
    *,
    top_k: int = 5,
) -> DataFrame:
    """Per-group heavy hitters: the ``top_k`` most frequent values of
    ``value_col`` within each ``group_col`` (count desc, value asc on
    ties) — per-language hot tokens, per-codec hot sample rates, the
    stratified version of the pre-salting diagnostic.

    Scale shape: one map-side-combined hash agg keyed (group, value)
    — O(distinct pairs) shuffle — then a rank window PARTITIONED BY
    group over the already-aggregated counts (each group's task sees
    its distinct values, not its rows). Unlike the global top-k there
    is no single-task ordering step."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    counts = (df.select(g.alias("grp"), v.alias("value"))
                .where(F.col("grp").isNotNull() & F.col("value").isNotNull())
                .groupBy("grp", "value").agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("value"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k))


def class_balance(
    df: DataFrame,
    col,
    *,
    denom: int = 1_000_000,
) -> DataFrame:
    """Per-class share of a label column, integer-exact: (value, cnt,
    total, share_ppm = cnt*denom div total) — the dataset-imbalance
    check a training pipeline gates on ("no class above 40%", "rare
    class at least 1%"). One hash agg + a broadcast of the single
    total row; NULLs excluded from both cnt and total (SQL aggregate
    semantics)."""
    v = F.col(col) if isinstance(col, str) else col
    counts = (df.select(v.alias("value")).where(F.col("value").isNotNull())
                .groupBy("value").agg(F.count(F.lit(1)).alias("cnt")))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (counts.crossJoin(F.broadcast(total))
            .select("value", "cnt", "total",
                    F.expr("cnt * {} div total".format(int(denom)))
                     .alias("share_ppm")))


def fd_violations(
    df: DataFrame,
    determinant,
    dependent,
) -> DataFrame:
    """Functional-dependency check: determinant values that map to MORE
    than one dependent value — ``clip_id -> codec``, ``brand -> mfgr``,
    ``nation -> region``. The violation a dimension merge or a bad
    upstream join introduces and per-row validators cannot see.

    Output: (det, n_dep, min_dep, max_dep) per violating determinant —
    the distinct-dependent count plus the extreme witnesses, enough to
    triage without a second scan.

    Scale shape: ONE map-side-combined hash agg keyed
    (determinant, dependent) — O(distinct pairs) shuffle, never rows —
    then a second tiny agg by determinant over the pair set. No
    count_distinct expansion, no window, no join. NULL determinants are
    skipped (no FD defined); NULL dependents count as a distinct value
    (a key mapping to both 'x' and NULL IS two answers)."""
    d = F.col(determinant) if isinstance(determinant, str) else determinant
    p = F.col(dependent) if isinstance(dependent, str) else dependent
    pairs = (df.select(d.alias("det"), p.alias("dep"))
               .where(F.col("det").isNotNull())
               .groupBy("det", "dep").agg(F.count(F.lit(1)).alias("__c__")))
    return (pairs.groupBy("det")
            .agg(F.count(F.lit(1)).alias("n_dep"),
                 F.min("dep").alias("min_dep"),
                 F.max("dep").alias("max_dep"))
            .where(F.col("n_dep") > 1))


def winsorized_sum_by(
    df: DataFrame,
    value_col,
    group_cols: typing.Sequence[str],
    *,
    lo_pm: int = 10,
    hi_pm: int = 990,
    denom: int = 1000,
) -> DataFrame:
    """Winsorized (clamped-tail) per-group aggregate: clamp an integral
    value column to its GLOBAL exact [lo_pm, hi_pm] quantiles (ceil-rank
    discrete definition, see exact_quantiles) and aggregate per group —
    the robust-sum / robust-mean building block that keeps a handful of
    corrupt outliers from dominating a metric gate.

    Output per group: (``w_sum`` clamped sum, ``n_rows``, ``n_lo`` rows
    clamped up, ``n_hi`` rows clamped down) — all BIGINT, engine-exact.

    Scale shape: exact_quantiles is one O(distinct-values) hash-agg
    shuffle with the cumulative window over the value HISTOGRAM; the two
    cutoffs come back to the driver as O(1) literals (no join), and the
    clamp + group agg is a second map-side-combined pass over the raw
    rows fused into the scan. For unbounded-cardinality columns quantize
    first (the exact_quantiles rule). NULL values are excluded
    (SQL aggregate semantics)."""
    if not (0 < lo_pm <= hi_pm <= denom):
        raise ValueError("need 0 < lo_pm <= hi_pm <= denom")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    cuts = {r["q_pm"]: int(r["value"])
            for r in exact_quantiles(df, v, [lo_pm, hi_pm],
                                     denom=denom).collect()}
    if not cuts:
        # empty / all-NULL value column: exact_quantiles returns zero
        # rows — fail loud like equi_depth_label, never a bare KeyError
        raise ValueError("winsorized_sum_by: no non-null values")
    lo_v, hi_v = cuts[lo_pm], cuts[hi_pm]
    base = (df.select(*group_cols, v.cast("long").alias("__v__"))
            .where(F.col("__v__").isNotNull()))
    clamped = F.greatest(F.lit(lo_v), F.least(F.lit(hi_v), F.col("__v__")))
    return (base.groupBy(*group_cols)
            .agg(F.sum(clamped).cast("long").alias("w_sum"),
                 F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.sum(F.when(F.col("__v__") < lo_v, F.lit(1))
                       .otherwise(F.lit(0))).cast("long").alias("n_lo"),
                 F.sum(F.when(F.col("__v__") > hi_v, F.lit(1))
                       .otherwise(F.lit(0))).cast("long").alias("n_hi")))


def mad_outliers(
    df: DataFrame,
    value_col,
    *,
    k: int = 5,
    keep_cols: typing.Optional[typing.Sequence[str]] = None,
) -> DataFrame:
    """Median-absolute-deviation outliers, integer-exact: rows with
    ``|x - median| > k * MAD`` where MAD = median(|x - median|) — the
    robust companion to zscore_outliers (one corrupt billion-value row
    moves a mean/stddev gate; it cannot move the median or the MAD).

    Integral values only (quantize first, the exact_quantiles rule);
    both medians use the ceil-rank q=500/1000 discrete definition so
    every quantity is an integer and the DuckDB oracle reproduces the
    cutoffs bit-for-bit. ``k`` integral. Returns ``keep_cols`` +
    (value, abs_dev) for flagged rows.

    Scale shape: two exact_quantiles passes (each one O(distinct
    values) histogram shuffle — the second histogram is over |x - med|,
    same cardinality bound), two integer literals back to the driver,
    then a row-local filter fused into a final scan. No joins, no
    broadcast tables. A constant column (MAD = 0) flags every
    row != median only when k*0 < |dev|, i.e. exact-constant columns
    flag all deviants — the conventional MAD-gate reading."""
    if k != int(k):
        raise ValueError("k must be an integer for exact MAD cutoffs")
    k = int(k)
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    meds = {r["q_pm"]: int(r["value"])
            for r in exact_quantiles(df, v, [500]).collect()}
    if not meds:
        raise ValueError("mad_outliers: no non-null values")
    med = meds[500]
    dev = F.abs(v.cast("long") - F.lit(med))
    mad = {r["q_pm"]: int(r["value"])
           for r in exact_quantiles(df, dev, [500]).collect()}[500]
    keep = list(keep_cols) if keep_cols else []
    return (df.select(*keep, v.cast("long").alias("value"),
                      dev.cast("long").alias("abs_dev"))
            .where(F.col("value").isNotNull()
                   & (F.col("abs_dev") > k * mad)))


def equi_depth_label(
    df: DataFrame,
    value_col,
    n_bins: int,
    *,
    bin_col: str = "bin",
) -> DataFrame:
    """Equi-depth (equal-frequency) binning: add an integer 1..n_bins
    label putting ~1/n_bins of the non-null rows in each bin — the
    feature-binning / histogram-equalization transform (train-time
    bucketizer, per-decile metric slices) whose cutoffs are EXACT
    ceil-rank quantiles, so two engines (and two runs over appended
    data with frozen cutoffs) label identically.

    Cutoffs c_k = exact_quantiles(k/n_bins) for k=1..n_bins-1; a row
    lands in the first k with value <= c_k, else n_bins — equivalently
    1 + |{k : c_k < value}|, which is what the SQL oracle computes.
    Duplicate cutoffs (mass concentrated on one value) leave later bins
    legitimately empty rather than splitting a tied value
    nondeterministically. NULL values get a NULL label.

    Scale shape: one O(distinct values) histogram shuffle for the
    cutoffs (exact_quantiles — quantize unbounded columns first, same
    rule), n_bins-1 integer literals back to the driver, then the label
    is a row-local CASE chain fused into the scan — the labeled frame
    adds zero shuffles to whatever consumes it."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    rows = exact_quantiles(df, v, list(range(1, n_bins)),
                           denom=n_bins).collect()
    if not rows:
        raise ValueError("equi_depth_label: no non-null values to bin")
    cuts = [int(r["value"]) for r in sorted(rows, key=lambda r: r["q_pm"])]
    label = None
    for k, c in enumerate(cuts, start=1):
        cond = v.cast("long") <= c
        label = F.when(cond, k) if label is None else label.when(cond, k)
    label = label.otherwise(F.lit(n_bins))
    return df.withColumn(
        bin_col, F.when(v.isNull(), F.lit(None)).otherwise(label)
        .cast("long"))


#: floor(1e6 * log10(1 + 1/d)) for d = 1..9 — Benford's law expected
#: first-digit shares in ppm; the same integers appear literally in the
#: benford_audit oracle SQL so both engines compare against one table.
BENFORD_PPM = (301029, 176091, 124938, 96910, 79181,
               66946, 57991, 51152, 45757)


def benford_audit(
    df: DataFrame,
    value_col,
    *,
    tol_ppm: int = 20_000,
) -> DataFrame:
    """Benford first-significant-digit audit: observed vs expected
    leading-digit distribution of a positive integral column — the
    classic fabricated-/corrupted-numbers screen (a synthesized or
    truncated metric column rarely keeps Benford's log-law; a natural
    multi-order-of-magnitude one usually does).

    Output per digit 1..9: (digit, n, obs_ppm, exp_ppm, status) with
    status 'deviant' iff |obs_ppm - exp_ppm| > tol_ppm, all integer
    (shares floor to ppm; expected values are the frozen BENFORD_PPM
    integers). Rows <= 0 or NULL are excluded (no leading digit);
    digits absent from the data still emit a row (n=0 — a MISSING
    digit is the loudest deviation), so the frame is always 9 rows.

    Scale shape: leading digit is a row-local string-head projection
    fused into the scan (integral cast → no decimal point to dodge);
    one map-side-combined 9-group hash agg; the total joins back as a
    broadcast single row and the expected table is a 9-row broadcast
    literal frame. Nothing scales with |rows| but the scan."""
    v = (F.col(value_col) if isinstance(value_col, str)
         else value_col).cast("long")
    digit = F.substring(v.cast("string"), 1, 1).cast("long")
    counts = (df.select(digit.alias("digit")).where(v > 0)
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    spark = df.sparkSession
    exp = local_frame(
        spark, [(d, int(p)) for d, p in enumerate(BENFORD_PPM, start=1)],
        "digit long, exp_ppm long")
    j = (exp.join(counts, "digit", "left")
         .select("digit", F.coalesce("n", F.lit(0)).alias("n"), "exp_ppm")
         .crossJoin(F.broadcast(
             counts.agg(F.sum("n").alias("__tot__")))))
    # empty input -> NULL total; coalesce to 0 so every digit reads
    # 'deviant' (a column with no positive values fails the audit)
    obs = F.coalesce(F.expr("n * 1000000 div __tot__"), F.lit(0))
    return j.select(
        "digit", F.col("n").cast("long").alias("n"),
        obs.cast("long").alias("obs_ppm"), "exp_ppm",
        F.when(F.abs(obs - F.col("exp_ppm")) > tol_ppm,
               F.lit("deviant")).otherwise(F.lit("ok")).alias("status"))


def corr2_by(
    df: DataFrame,
    x_col,
    y_col,
    group_cols: typing.Sequence[str],
) -> DataFrame:
    """Per-group exact Pearson correlation as integer rationals:
    (group, n, corr2_ppm, sign) where corr2_ppm = floor(1e6 * r^2) and
    sign = sign(r) — the inter-column relationship contract ("quantity
    and revenue must stay strongly positively correlated per cohort")
    with no float in either engine's comparable output.

    The float-free identity: with integral x, y and S* the integer
    sums, num = n*Sxy - Sx*Sy, den = (n*Sxx - Sx^2)(n*Syy - Sy^2), and
    r^2 = num^2/den exactly — so floor(num^2 * 1e6 / den) and sign(num)
    carry the full contract (|r| >= 0.8 iff corr2_ppm >= 640000 with
    the right sign). Constant columns (den = 0) report corr2_ppm = 0,
    sign 0 — uncorrelatable, not an error.

    Scale shape: ONE map-side-combined hash agg with decimal(38)
    accumulators (the zscore_cutoffs pattern — products of big values
    overflow int64 long before 10^12 rows), O(groups) rows to the
    driver, exact Python big-int arithmetic there (never overflows),
    and an O(groups) literal frame back. Quantize inputs so the
    DUCKDB-side mirror stays exact too: the oracle evaluates
    num^2 * 1e6 in HUGEINT (128-bit), so keep |n * max|x*y|| under
    ~1e16 (e.g. dollars-in-thousands, not micro-cents) when a query is
    oracle-gated; the Spark side itself has no such bound."""
    x = (F.col(x_col) if isinstance(x_col, str) else x_col) \
        .cast("decimal(19,0)")
    y = (F.col(y_col) if isinstance(y_col, str) else y_col) \
        .cast("decimal(19,0)")
    base = (df.select(*group_cols, x.alias("__x__"), y.alias("__y__"))
            .where(F.col("__x__").isNotNull() & F.col("__y__").isNotNull()))
    stats = (base.groupBy(*group_cols)
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("__x__").alias("sx"),
                  F.sum("__y__").alias("sy"),
                  F.sum(F.col("__x__") * F.col("__x__")).alias("sxx"),
                  F.sum(F.col("__y__") * F.col("__y__")).alias("syy"),
                  F.sum(F.col("__x__") * F.col("__y__")).alias("sxy"))
             ).collect()
    out = []
    for r in stats:
        n, sx, sy = int(r["n"]), int(r["sx"]), int(r["sy"])
        sxx, syy, sxy = int(r["sxx"]), int(r["syy"]), int(r["sxy"])
        num = n * sxy - sx * sy
        den = (n * sxx - sx * sx) * (n * syy - sy * sy)
        c2 = 0 if den == 0 else (num * num * 1_000_000) // den
        sign = (num > 0) - (num < 0)
        out.append(tuple(r[g] for g in group_cols) + (n, c2, sign))
    spark = df.sparkSession
    gtypes = dict(zip(base.schema.names, base.schema))
    gdef = ", ".join("{} {}".format(g, gtypes[g].dataType.simpleString())
                     for g in group_cols)
    return local_frame(
        spark, out, gdef + ", n long, corr2_ppm long, sign long")


class ColumnContract(typing.NamedTuple):
    """Data-contract bounds for one column: distinct-cardinality window
    plus a null-fraction ceiling (ppm). ``max_distinct=None`` = unbounded
    above (id-like columns); ``max_null_ppm=1_000_000`` = nulls allowed."""
    column: str
    min_distinct: int = 1
    max_distinct: typing.Optional[int] = None
    max_null_ppm: int = 1_000_000


def contract_audit(
    df: DataFrame,
    contracts: typing.Sequence[ColumnContract],
) -> DataFrame:
    """Cardinality / null-fraction data-contract audit: per contracted
    column, exact ``n_rows``, ``n_distinct`` (non-null), ``n_null``,
    integer ``null_ppm``, and a ``status`` string — 'ok' or the
    comma-joined violated rules ('too_few_distinct', 'too_many_distinct',
    'too_many_nulls'). The pre-flight check a pipeline runs before
    trusting an enum column to broadcast, a key column to be join-safe,
    or a feature column to be trainable.

    Scale shape: ONE pruned scan for ALL contracted columns — each row
    explodes to (column ordinal, value-as-string) pairs which collapse
    immediately in a map-side-combined (ordinal, value) hash agg, so the
    shuffle is O(sum of per-column distinct counts), never O(rows x
    columns); a second O(distinct) agg folds to one row per column and
    the contract bounds apply as a broadcast join of the O(columns) spec.
    Deliberately NOT ``count_distinct(c1), count_distinct(c2), ...`` in
    one agg — Spark plans multi-distinct via Expand with rows x (n+1)
    partial-agg state and no map-side collapse per value. Values compare
    as strings (engine casts are injective per column, so the distinct
    COUNT is the column's own); an empty input emits no rows."""
    if not contracts:
        raise ValueError("contracts must be non-empty")
    missing = [c.column for c in contracts if c.column not in df.columns]
    if missing:
        raise ValueError("contract columns absent from frame: {}"
                         .format(missing))
    arr = F.array(*[F.col(c.column).cast("string") for c in contracts])
    pairs = df.select(F.posexplode(arr).alias("__i__", "__v__"))
    per_val = pairs.groupBy("__i__", "__v__").agg(
        F.count(F.lit(1)).alias("__c__"))
    per_col = per_val.groupBy("__i__").agg(
        F.sum("__c__").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("__v__").isNotNull(), F.lit(1))
              .otherwise(F.lit(0))).cast("long").alias("n_distinct"),
        F.coalesce(F.sum(F.when(F.col("__v__").isNull(), F.col("__c__"))),
                   F.lit(0)).cast("long").alias("n_null"))
    spark = df.sparkSession
    spec = local_frame(
        spark,
        [(i, c.column, int(c.min_distinct),
          None if c.max_distinct is None else int(c.max_distinct),
          int(c.max_null_ppm))
         for i, c in enumerate(contracts)],
        "__i__ int, column string, min_distinct long, max_distinct long, "
        "max_null_ppm long")
    j = per_col.join(F.broadcast(spec), "__i__")
    null_ppm = F.expr("n_null * 1000000 div n_rows")
    status = F.concat_ws(
        ",",
        F.when(F.col("n_distinct") < F.col("min_distinct"),
               F.lit("too_few_distinct")),
        F.when(F.col("max_distinct").isNotNull()
               & (F.col("n_distinct") > F.col("max_distinct")),
               F.lit("too_many_distinct")),
        F.when(null_ppm > F.col("max_null_ppm"), F.lit("too_many_nulls")))
    return j.select(
        "column", "n_rows", "n_distinct", "n_null",
        null_ppm.cast("long").alias("null_ppm"),
        F.when(status == "", F.lit("ok")).otherwise(status).alias("status"))


def fd_profile(
    df: DataFrame,
    candidates: typing.Sequence[typing.Tuple[str, str]],
) -> DataFrame:
    """Approximate-FD discovery over a candidate list: for each
    (determinant, dependent) column pair, the g3 error — the minimum
    number of rows to delete for the FD to hold exactly,
    ``n_rows - sum_det max_dep_count`` (Kivinen & Mannila's measure,
    the one Metanome/Deequ profilers report) — as exact integers plus
    ppm. fd_violations answers "show me the breakage of THIS FD";
    this ranks MANY hypotheses at once ("which of these is nearly a
    key dependency") so schema inference can promote near-FDs to
    enforced checks.

    Output per candidate: (det_col, dep_col, n_rows, n_det,
    n_violations, error_ppm), error_ppm = floor(1e6 * violations /
    rows). NULL determinants are skipped per pair (no FD defined);
    NULL dependents count as a value, matching fd_violations.

    Scale shape at 10^12 rows: the candidate structs melt in ONE
    codegen projection (k x row multiplication before the partial agg
    — the violation_hotspots trade: k is a handful, and the melt buys
    a SINGLE (cand, det, dep) map-side-combined hash agg instead of k
    separate scans). Everything downstream operates on the
    O(k x distinct-pairs) aggregate: max-per-det, then per-candidate
    totals. No count_distinct expansion, no window over raw rows.
    """
    if not candidates:
        raise ValueError("fd_profile needs at least one candidate pair")
    melted = df.select(F.explode(F.array(*[
        F.struct(
            F.lit(det).alias("det_col"), F.lit(dep).alias("dep_col"),
            F.col(det).cast("string").alias("det"),
            F.col(dep).cast("string").alias("dep"))
        for det, dep in candidates])).alias("c")).select("c.*")
    pairs = (melted.where(F.col("det").isNotNull())
             .groupBy("det_col", "dep_col", "det", "dep")
             .agg(F.count(F.lit(1)).alias("__c__")))
    per_det = (pairs.groupBy("det_col", "dep_col", "det")
               .agg(F.sum("__c__").alias("__n__"),
                    F.max("__c__").alias("__keep__")))
    return (per_det.groupBy("det_col", "dep_col")
            .agg(F.sum("__n__").cast("long").alias("n_rows"),
                 F.count(F.lit(1)).cast("long").alias("n_det"),
                 (F.sum("__n__") - F.sum("__keep__")).cast("long")
                  .alias("n_violations"),
                 # exact floor division (functions.exact: Spark's
                 # F.floor(decimal/decimal) rounds HALF_UP at scale 6
                 # BEFORE floor — it is NOT DuckDB's //)
                 ppm((F.sum("__n__") - F.sum("__keep__")).cast("decimal(38,0)"),
                     F.sum("__n__").cast("decimal(38,0)"))
                  .alias("error_ppm")))


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col,
    qs_pm: typing.Sequence[int],
    *,
    denom: int = 1000,
) -> DataFrame:
    """Per-GROUP exact discrete quantiles — the SLO form of
    exact_quantiles ("p95 session gap per event_type", "p99 clip
    duration per codec"): for each group and each q, the smallest
    value whose within-group cumulative count reaches
    ceil(q * n_g / denom). The same ceil-rank core as exact_quantiles
    (``_ceil_rank_quantiles``), same quantize-first contract for
    unbounded columns.

    Returns (grp, q_pm, rank, n, value). NULL groups form their own
    group (a per-cohort SLO for the unattributed cohort is still an
    SLO); NULL values are excluded from n.

    Scale shape at 10^12 rows: ONE map-side-combined (group, value)
    hash agg; the cumulative window and the per-group totals run over
    that O(groups x distinct-values) histogram partitioned BY GROUP
    (never a global single-task sort — the exact_quantiles global
    window is the one shape that does not scale past one reducer, and
    grouping restores the parallelism). The quantile-rank join is a
    broadcast of O(qs) rows cross-keyed per group.
    """
    return _ceil_rank_quantiles(df, [group_col], value_col, qs_pm, denom)


def concentration_profile(
    df: DataFrame,
    columns: typing.Sequence[str],
) -> DataFrame:
    """Integer-exact distribution-concentration audit, one row per
    column: Simpson's index (the probability two random non-null rows
    share a value) plus the heaviest value's share. The
    collapsed-column detector per-column null counts miss — an
    upstream join that starts fanning one default value, a feature
    flag stuck on one arm, an enum column quietly degenerating to a
    constant all keep nulls at 0 and cardinality > 1 while
    concentration races toward 1; symmetric, a key-like column reads
    ~0. Entropy is the textbook measure but log() is irrational —
    Simpson is the SAME monotone story in exact integer arithmetic
    (the repo's rational-statistics rule).

    Output per column: (column, n_nonnull, n_distinct,
    simpson_ppm = floor(1e6 * Σc(c−1) / (n(n−1))), c_max,
    top_share_ppm = floor(1e6 * c_max / n)); simpson_ppm is NULL when
    n < 2. NULLs are excluded from concentration (they are
    missingness_profile's story); ppm outputs are bounded <= 1e6 so
    int64-safe at any scale (the Σc(c−1) intermediate runs in
    decimal(38): one 10^12-count value is ~10^24, past int64 but far
    inside decimal headroom).

    Values melt through a string cast so heterogeneous columns share
    one frame — pass DISCRETE columns (strings, ints, dates); a raw
    double column renders engine-specifically, so quantize floats
    first (the exact_quantiles rule).

    Scale shape at 10^12 rows: one codegen melt projection (array of
    (col, value) structs -> explode, the missingness/hotspots trade:
    k-fold row multiplication BEFORE a map-side-combined hash agg, so
    the exchange carries O(Σ per-column distinct) counter rows, never
    occurrences) -> a second tiny agg to O(columns) rows.
    """
    if not columns:
        raise ValueError("columns must be non-empty")
    structs = [F.struct(F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("v"))
               for c in columns]
    melted = (df.select(F.explode(F.array(*structs)).alias("m"))
                .select(F.col("m.col").alias("col"), F.col("m.v").alias("v"))
                .where(F.col("v").isNotNull()))
    per = melted.groupBy("col", "v").agg(F.count(F.lit(1)).alias("c"))
    dc = F.col("c").cast("decimal(38,0)")
    n = F.sum("c").cast("decimal(38,0)")
    return (per.groupBy(F.col("col").alias("column"))
            .agg(F.sum("c").cast("long").alias("n_nonnull"),
                 F.count(F.lit(1)).cast("long").alias("n_distinct"),
                 F.when(n > 1,
                        ppm(F.sum(dc * (dc - 1)), n * (n - 1)))
                  .otherwise(F.lit(None).cast("long")).alias("simpson_ppm"),
                 F.max("c").cast("long").alias("c_max"),
                 ppm(F.max("c").cast("decimal(38,0)"), n)
                  .alias("top_share_ppm")))


#: auto-route bound for key_discovery: when len(candidates) * n_rows
#: (the Expand's row-multiplication volume) exceeds this, a KMV screen
#: prunes hopeless candidates before the exact multi-countDistinct pass.
#: 8e9 cells ~= the point where a 32-slot local Expand stage visibly
#: dominates the scan; on a cluster the same ratio holds per executor.
KEY_SCREEN_CELL_BUDGET = 8_000_000_000
#: candidate-count floor below which the route is never considered (the
#: Expand factor is harmless and the unrouted path stays single-pass —
#: no extra count() scan is paid).
KEY_SCREEN_MIN_CANDIDATES = 8
#: survival bar: a candidate stays in the exact pass when its KMV
#: distinct estimate is >= this fraction (ppm) of n_rows. A true key has
#: distinct == n_rows and KMV error at k=1024 is ~3%, so 50% is a wide
#: safety margin — the screen can only drop candidates that are far
#: from keys (their exact shortfall is then not reported; re-run them
#: explicitly if the ppm matters).
KEY_SCREEN_SURVIVE_PPM = 500_000


def key_discovery(
    df: DataFrame,
    candidates: typing.Sequence[typing.Sequence[str]],
    denom: int = 1_000_000,
    *,
    screen_cell_budget: int = KEY_SCREEN_CELL_BUDGET,
    screen_min_candidates: int = KEY_SCREEN_MIN_CANDIDATES,
    screen_k: int = 1024,
) -> DataFrame:
    """Candidate-key (unique column combination) discovery — the third
    leg of the schema-profiling triad next to fd_profile (which columns
    DETERMINE others) and inclusion_profile (which columns REFERENCE
    others): for each candidate column set, is it a key, and how far
    from one is it? Per candidate: (candidate, n_rows, n_nonnull,
    n_distinct, unique_ppm, is_key) where n_nonnull counts rows with
    EVERY component non-null (a row with a NULL component can never be
    distinguished by the candidate, the SQL UNIQUE-constraint
    convention — countDistinct skips those rows for the same reason),
    unique_ppm = floor(n_distinct * denom / n_nonnull) (NULL when no
    usable rows), and is_key = all rows usable AND all usable rows
    distinct AND the table is non-empty, and exact = whether the row's
    counts are exact (always true unless the KMV auto-route screened
    the candidate out — see below). Feeds IsDistinctValidation /
    composite-uniqueness contracts the way suggest_rules feeds value
    checks.

    Scale shape at 10^12 rows: ONE aggregation pass — Spark rewrites
    the multi-countDistinct agg through an Expand (k-fold row
    multiplication BEFORE map-side partial aggregation, the same shape
    as the melt-profilers), so the exchange carries per-candidate
    distinct groups, never occurrences, and no candidate triggers its
    own scan. O(candidates) output built driver-side from the single
    agg row (the suggest_rules convention).

    KMV auto-route (the documented mitigation, now the default): the
    Expand multiplies every row by len(candidates), so at
    >= ``screen_min_candidates`` candidates AND
    len(candidates) * n_rows > ``screen_cell_budget`` cells the
    operator first runs a kmv_distinct screen over one md5-composite
    column per candidate (fixed-width per-component digests — no
    separator-collision ambiguity; NULL when any component is NULL,
    matching the usable-row rule) and exact-counts ONLY the survivors
    (estimate >= KEY_SCREEN_SURVIVE_PPM of n_rows — a true key sits at
    ~100% and KMV error is ~1/sqrt(k), so the screen never drops a
    key). Screened-out candidates are reported with exact = false,
    n_distinct = the KMV estimate, n_nonnull/unique_ppm = NULL and
    is_key = false; re-run them explicitly when the exact shortfall
    matters. Cost accounting, stated plainly: below
    ``screen_min_candidates`` nothing changes — the plan-locked
    single-pass shape, no extra work. At or above it, ONE count() pass
    (metadata-cheap on columnar sources: Spark prunes a bare count to
    an empty read schema) evaluates the cell budget; the KMV scan is
    then paid only when the budget actually trips.
    """
    cands = [list(c) for c in candidates]
    if not cands or any(not c for c in cands):
        raise ValueError("candidates must be non-empty column lists")
    for c in cands:
        missing = [x for x in c if x not in df.columns]
        if missing:
            raise ValueError("columns absent from frame: {}".format(missing))
    labels = ["+".join(c) for c in cands]
    if len(set(labels)) != len(labels):
        raise ValueError("duplicate candidates: {}".format(labels))

    screened: typing.Dict[str, int] = {}
    exact_idx = list(range(len(cands)))
    if len(cands) >= screen_min_candidates:
        n_rows = df.count()
        if len(cands) * n_rows > screen_cell_budget:
            from .sketch import kmv_distinct

            comp = []
            for i, cand in enumerate(cands):
                usable = F.lit(True)
                for col in cand:
                    usable = usable & F.col(col).isNotNull()
                comp.append(F.when(usable, F.concat(*[
                    F.md5(F.col(col).cast("string").cast("binary"))
                    for col in cand])).alias("__cand{}__".format(i)))
            est = {r["column"]: int(r["est_distinct"])
                   for r in kmv_distinct(df.select(*comp),
                                         ["__cand{}__".format(i)
                                          for i in range(len(cands))],
                                         k=screen_k).collect()}
            exact_idx = [i for i in range(len(cands))
                         if est["__cand{}__".format(i)] * 1_000_000
                         >= KEY_SCREEN_SURVIVE_PPM * n_rows]
            screened = {labels[i]: est["__cand{}__".format(i)]
                        for i in range(len(cands)) if i not in set(exact_idx)}

    aggs = [F.count(F.lit(1)).alias("__n__")]
    for i in exact_idx:
        cand = cands[i]
        usable = F.lit(True)
        for col in cand:
            usable = usable & F.col(col).isNotNull()
        aggs.append(F.countDistinct(*[F.col(col) for col in cand])
                    .alias("__d{}__".format(i)))
        aggs.append(F.sum(F.when(usable, 1).otherwise(0))
                    .cast("long").alias("__u{}__".format(i)))
    row = df.agg(*aggs).collect()[0]

    n = int(row["__n__"])
    exact_set = set(exact_idx)
    out = []
    for i, label in enumerate(labels):
        if i in exact_set:
            nd = int(row["__d{}__".format(i)] or 0)
            nu = int(row["__u{}__".format(i)] or 0)
            ppm = (nd * int(denom) // nu) if nu > 0 else None
            out.append((label, n, nu, nd, ppm,
                        n > 0 and nu == n and nd == nu, True))
        else:
            out.append((label, n, None, screened[label], None, False, False))
    spark = df.sparkSession
    return local_frame(
        spark, out, "candidate string, n_rows long, n_nonnull long, "
                    "n_distinct long, unique_ppm long, is_key boolean, "
                    "exact boolean")

"""Distribution-drift checks: chi-square (categorical) and KS (numeric).

Engine extension (the reference has no aggregations — SURVEY.md §2.4);
required by the north star: "KS/chi-square distribution-drift checks on
sr_hz/dur_ms histograms".

Spark does the heavy lifting as a partial+final hash aggregation
(`groupBy(value).count()` for categoricals, `groupBy(width-bucket bin)
.count()` for numerics) — a single shuffle whose output is one row per
category/bin; the O(bins) statistic + p-value math runs on the driver in
numpy (functions/stats.py, scipy absent).

Result objects carry (stat, p_value, drifted) and a per-bucket observed
vs expected frame for reporting; a failing drift check is frame-level
(one warning), not per-row.
"""

from __future__ import annotations

import dataclasses
import typing

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..functions import stats as _stats
from ..functions.exact import floor_div
from ..resources import hold
from ..validation_warning import ValidationWarning


@dataclasses.dataclass
class DriftResult:
    column: str
    kind: str                # 'chi_square' | 'ks'
    statistic: float
    p_value: float
    n: int
    drifted: bool
    alpha: float
    buckets: typing.List[typing.Tuple[str, float, float]]  # (label, observed, expected)

    def warning(self) -> typing.Optional[ValidationWarning]:
        if not self.drifted:
            return None
        return ValidationWarning(
            message=(
                "distribution drift detected on column {} ({} statistic={:.6g}, "
                "p={:.3g} < alpha={:g}, n={})".format(
                    self.column, self.kind, self.statistic, self.p_value, self.alpha, self.n)
            ),
            column=self.column,
        )


def categorical_histogram(df: DataFrame, column: str) -> typing.Dict[typing.Any, int]:
    """One partial+final hash agg; output is O(categories)."""
    rows = df.groupBy(F.col(column).alias("bucket")).agg(F.count(F.lit(1)).alias("cnt")).collect()
    return {r["bucket"]: r["cnt"] for r in rows}


def chi_square_drift(
    df: DataFrame,
    column: str,
    expected_probs: typing.Dict[typing.Any, float],
    alpha: float = 0.001,
) -> DriftResult:
    """Goodness-of-fit of the observed category frequencies against
    expected probabilities. Unknown (unexpected) categories are pooled
    into an expected-0 pseudo-bucket counted via a 1e-12 floor so their
    presence inflates the statistic instead of being dropped."""
    observed = categorical_histogram(df, column)
    n = sum(observed.values())
    cats = list(expected_probs.keys())
    extra = sorted([str(c) for c in observed.keys() if c not in expected_probs])
    obs = np.array([observed.get(c, 0) for c in cats], dtype=float)
    exp = np.array([expected_probs[c] * n for c in cats], dtype=float)
    if extra:
        obs = np.append(obs, sum(v for k, v in observed.items() if k not in expected_probs))
        exp = np.append(exp, 1e-12 * max(n, 1))
    stat = _stats.chi2_stat(obs, exp)
    dof = max(len(cats) - 1, 1)
    p = _stats.chi2_sf(stat, dof)
    buckets = [(str(c), float(observed.get(c, 0)), float(expected_probs[c] * n)) for c in cats]
    return DriftResult(column, "chi_square", stat, p, int(n), p < alpha, alpha, buckets)


def two_sample_categorical_counts(
    df_ref: DataFrame, df_cand: DataFrame, column: str
) -> DataFrame:
    """(bucket, c_ref, c_cand): both histograms in ONE shuffle — the
    frames are tagged and unioned so the counts come out of a single
    partial+final hash agg, O(categories) output. The building block for
    reference-vs-candidate drift on e.g. sr_hz between ingest batches."""
    tagged = df_ref.select(
        F.col(column).alias("bucket"), F.lit(1).alias("__ref__")
    ).unionAll(
        df_cand.select(F.col(column).alias("bucket"), F.lit(0).alias("__ref__"))
    )
    return tagged.groupBy("bucket").agg(
        F.sum("__ref__").cast("long").alias("c_ref"),
        F.sum(F.lit(1) - F.col("__ref__")).cast("long").alias("c_cand"),
    )


def chi_square_two_sample(
    df_ref: DataFrame,
    df_cand: DataFrame,
    column: str,
    alpha: float = 0.001,
) -> DriftResult:
    """Two-sample chi-square homogeneity test: did the candidate batch's
    category distribution drift from the reference batch's? Standard
    statistic sum_j (a_j*sqrt(nb/na) - b_j*sqrt(na/nb))^2 / (a_j+b_j),
    dof = k-1. Spark does one O(categories) agg; numpy does the O(k)
    statistic on the driver."""
    rows = two_sample_categorical_counts(df_ref, df_cand, column).collect()
    a = np.array([r["c_ref"] for r in rows], dtype=float)
    b = np.array([r["c_cand"] for r in rows], dtype=float)
    na, nb = a.sum(), b.sum()
    if na == 0 or nb == 0:
        raise ValueError("both samples must be non-empty for two-sample chi-square")
    k1, k2 = np.sqrt(nb / na), np.sqrt(na / nb)
    tot = a + b
    mask = tot > 0
    stat = float((((a * k1 - b * k2) ** 2)[mask] / tot[mask]).sum())
    dof = max(int(mask.sum()) - 1, 1)
    p = _stats.chi2_sf(stat, dof)
    buckets = [
        (str(r["bucket"]), float(bj), float(aj * nb / na))
        for r, aj, bj in zip(rows, a, b)
    ]
    return DriftResult(column, "chi_square_2sample", stat, p, int(na + nb),
                       p < alpha, alpha, buckets)


def binned_histogram(
    df: DataFrame, column: str, lo: float, hi: float, n_bins: int
) -> np.ndarray:
    """width_bucket-style binning + hash agg; clamps out-of-range values
    into the edge bins. Output is O(n_bins)."""
    width = (hi - lo) / n_bins
    bin_expr = F.least(
        F.greatest(F.floor((F.col(column) - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    rows = (
        df.where(F.col(column).isNotNull())
        .groupBy(bin_expr.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    counts = np.zeros(n_bins, dtype=np.int64)
    for r in rows:
        counts[r["bucket"]] = r["cnt"]
    return counts


def ks_drift(
    df: DataFrame,
    column: str,
    expected_bin_probs: typing.Sequence[float],
    lo: float,
    hi: float,
    alpha: float = 0.001,
) -> DriftResult:
    """One-sample KS over a shared binning of [lo, hi)."""
    probs = np.asarray(expected_bin_probs, dtype=float)
    counts = binned_histogram(df, column, lo, hi, len(probs))
    n = int(counts.sum())
    stat, p = _stats.ks_test_from_binned(counts, probs)
    exp_counts = probs / probs.sum() * n
    buckets = [
        ("[{:g},{:g})".format(lo + i * (hi - lo) / len(probs), lo + (i + 1) * (hi - lo) / len(probs)),
         float(counts[i]), float(exp_counts[i]))
        for i in range(len(probs))
    ]
    return DriftResult(column, "ks", stat, p, n, p < alpha, alpha, buckets)


def population_stability_index(
    df_ref: DataFrame,
    df_cand: DataFrame,
    column: str,
    *,
    threshold: float = 0.2,
    epsilon: float = 1e-6,
) -> DriftResult:
    """PSI — the ML-monitoring standard for feature drift between a
    reference batch and a candidate batch:
    sum_j (p_j - q_j) * ln(p_j / q_j) over category shares, with the
    usual epsilon floor for empty-on-one-side categories. Conventional
    reading: <0.1 stable, 0.1-0.2 moderate, >0.2 (default threshold)
    drifted. Spark work is the same single tagged-union O(categories)
    aggregation as the chi-square test; the O(k) float math runs on the
    driver (ln() is why PSI is pytest- rather than oracle-verified —
    the histogram legs it consumes ARE oracle-gated via audio_sr_drift)."""
    rows = two_sample_categorical_counts(df_ref, df_cand, column).collect()
    a = np.array([r["c_ref"] for r in rows], dtype=float)
    b = np.array([r["c_cand"] for r in rows], dtype=float)
    na, nb = a.sum(), b.sum()
    if na == 0 or nb == 0:
        raise ValueError("both samples must be non-empty for PSI")
    p = np.maximum(a / na, epsilon)
    q = np.maximum(b / nb, epsilon)
    psi = float(((p - q) * np.log(p / q)).sum())
    buckets = [(str(r["bucket"]), float(bj), float(aj * nb / na))
               for r, aj, bj in zip(rows, a, b)]
    return DriftResult(column, "psi", psi, float("nan"), int(na + nb),
                       psi > threshold, threshold, buckets)


def two_sample_counts_by(
    df_ref: DataFrame, df_cand: DataFrame, group_col: str, column: str
) -> DataFrame:
    """(grp, bucket, c_ref, c_cand): per-GROUP two-sample histograms in
    one shuffle — the per-cohort version of two_sample_categorical_counts
    (per-codec sr drift, per-language length drift). Both frames tagged,
    unioned, aggregated once keyed (group, bucket); output is
    O(groups x categories), never rows."""
    tagged = df_ref.select(
        F.col(group_col).alias("grp"), F.col(column).alias("bucket"),
        F.lit(1).alias("__ref__"),
    ).unionAll(df_cand.select(
        F.col(group_col).alias("grp"), F.col(column).alias("bucket"),
        F.lit(0).alias("__ref__"),
    ))
    return tagged.groupBy("grp", "bucket").agg(
        F.sum("__ref__").cast("long").alias("c_ref"),
        F.sum(F.lit(1) - F.col("__ref__")).cast("long").alias("c_cand"),
    )


def chi_square_two_sample_by(
    df_ref: DataFrame, df_cand: DataFrame, group_col: str, column: str
) -> DataFrame:
    """Per-group two-sample chi-square homogeneity, integer-exact: for
    each group, stat = sum_j (a_j*nb - b_j*na)^2 / ((a_j+b_j) * na * nb)
    — the standard two-sample statistic with both sqrt factors cleared.
    Emitted as (grp, k, n_ref, n_cand, chi2_num, chi2_den) where
    chi2_num = sum_j (a_j*nb - b_j*na)^2 div (a_j+b_j)   (per-term
    integer floor — deterministic across engines, bias < k against a
    statistic read at thresholds of O(10+)) and chi2_den = na*nb; the
    caller compares chi2_num/chi2_den against the chi2(k-1) cutoff.
    Rational integers for the same reason the global drift queries use
    them: float summation order differs across engines, 128-bit integer
    arithmetic does not.

    Scale: the raw rows shuffle ONCE (tagged union, map-side combined,
    keyed (group, bucket)). The per-group totals come from a window
    PARTITIONED BY group over the already-aggregated
    O(groups x categories) histogram — NOT a second aggregation of the
    inputs, which would scan and shuffle the raw rows twice (a window
    over aggregated rows is fine; the repo's no-window rule is about
    caps over raw data). One more tiny exchange of the histogram on
    grp, then the final per-group agg reuses that partitioning."""
    from pyspark.sql import Window

    hist = two_sample_counts_by(df_ref, df_cand, group_col, column)
    w = Window.partitionBy("grp")
    enriched = hist.select(
        "grp", "c_ref", "c_cand",
        F.sum("c_ref").over(w).alias("n_ref"),
        F.sum("c_cand").over(w).alias("n_cand"),
        F.count(F.lit(1)).over(w).alias("k"))
    a = F.col("c_ref").cast("decimal(38,0)")
    b = F.col("c_cand").cast("decimal(38,0)")
    na = F.col("n_ref").cast("decimal(38,0)")
    nb = F.col("n_cand").cast("decimal(38,0)")
    term = (a * nb - b * na)
    # exact floor division (functions.exact): F.floor(dec/dec) is NOT
    # // — Spark rounds the scale-6 quotient HALF_UP before floor
    num_j = floor_div(term * term, a + b)
    return (enriched.groupBy("grp")
            .agg(F.first("k").cast("long").alias("k"),
                 F.first("n_ref").cast("long").alias("n_ref"),
                 F.first("n_cand").cast("long").alias("n_cand"),
                 F.sum(num_j).cast("long").alias("chi2_num"),
                 F.first(na * nb).cast("long").alias("chi2_den")))


def ks_two_sample_by(
    df_ref: DataFrame, df_cand: DataFrame, group_col: str, column: str
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic over a discrete
    bucket column, integer-exact: for each group,
    KS = max_j |cumA_j * nB - cumB_j * nA| / (nA * nB), emitted as the
    rational pair (ks_num, ks_den). The numeric-drift companion of
    chi_square_two_sample_by (chi-square ignores bucket ORDER; KS is the
    sup over the ordered CDF gap, so it catches shifts chi-square
    dilutes).

    Scale shape: identical to the chi-square variant — the raw rows
    shuffle ONCE through the tagged-union (group, bucket) hash agg; the
    cumulative sums are a window over the O(groups x buckets) histogram
    ordered by bucket within each group (aggregated rows only, never
    data). The sup needs evaluating at every OBSERVED bucket edge only:
    between observed buckets both CDFs are flat, so the gap cannot
    change."""
    from pyspark.sql import Window

    hist = two_sample_counts_by(df_ref, df_cand, group_col, column)
    w = (Window.partitionBy("grp").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    wg = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        F.sum("c_ref").over(w).alias("cum_a"),
        F.sum("c_cand").over(w).alias("cum_b"),
        F.sum("c_ref").over(wg).alias("n_ref"),
        F.sum("c_cand").over(wg).alias("n_cand"))
    # products ride decimal(38,0): n_ref * n_cand overflows int64 past
    # ~3e9 rows per side (long multiplication wraps SILENTLY in
    # non-ANSI mode) — the ks_onset sibling already casts; match it.
    # ks_num <= ks_den, so both fit BIGINT whenever ks_den does; the
    # final casts keep the documented <2^63 output envelope.
    gap = F.abs(F.col("cum_a").cast("decimal(38,0)")
                * F.col("n_cand").cast("decimal(38,0)")
                - F.col("cum_b").cast("decimal(38,0)")
                * F.col("n_ref").cast("decimal(38,0)"))
    return (cum.groupBy("grp")
            .agg(F.first("n_ref").cast("long").alias("n_ref"),
                 F.first("n_cand").cast("long").alias("n_cand"),
                 F.max(gap).cast("long").alias("ks_num"),
                 F.first(F.col("n_ref").cast("decimal(38,0)")
                         * F.col("n_cand").cast("decimal(38,0)"))
                  .cast("long").alias("ks_den")))


def chi_square_onset(
    df: DataFrame,
    ts_col: str,
    column: str,
    *,
    bucket_s: int = 86_400,
) -> DataFrame:
    """Time-localized categorical drift — WHEN did the mix change: for
    every ``bucket_s``-second time bucket, the two-sample chi-square of
    the bucket's category histogram against the REST of the data
    (complement, not a fixed reference — so a single corrupted day is
    flagged against the healthy majority without anyone curating a
    baseline window). The onset detector that per-group drift
    (chi_square_two_sample_by) cannot express: its groups partition the
    data once, while onset needs every bucket compared to everything
    else — done here without a second scan by deriving the complement
    from the SAME aggregated histogram (b_j = global_j - a_j).

    Integer-exact rational output per bucket, same convention as
    chi_square_two_sample_by: (bucket_start, k, n_bucket, n_rest,
    chi2_num, chi2_den) with chi2_num = sum_j (a_j*nb - b_j*na)^2 div
    (a_j + b_j) and chi2_den = na*nb; callers compare
    chi2_num/chi2_den to the chi2(k-1) cutoff. k counts the GLOBAL
    category set: a category absent from the bucket still contributes
    its (0 - b_j*na)^2 term — vanishing categories are drift too.

    Scale shape at 10^12 rows: the raw rows reduce through ONE
    map-side-combined hash agg keyed (bucket, category); everything
    after operates on that O(buckets x categories) histogram — category
    totals and the grand total are tiny re-aggregations of it, the
    dense bucket x category grid is a broadcast cross join of the two
    aggregate sides, never a row-level op. Buckets are integer epoch
    seconds floored to ``bucket_s`` via the subtraction idiom (never
    float division by a large divisor — doubles round near boundaries).
    """
    if bucket_s < 1:
        raise ValueError("bucket_s must be >= 1")
    from .sessions import _epoch_us

    sec = (_epoch_us(ts_col) / 1_000_000).cast("long")
    bucket = (sec - (sec % F.lit(bucket_s))).alias("bucket_start")
    hist = (df.where(F.col(ts_col).isNotNull() & F.col(column).isNotNull())
              .groupBy(bucket, F.col(column).alias("__cat__"))
              .agg(F.count(F.lit(1)).alias("__a__")))
    hist = hold(hist.persist())
    # all further inputs derive from the aggregated histogram: O(buckets
    # x categories) rows, no second raw scan
    cat_tot = hist.groupBy("__cat__").agg(F.sum("__a__").alias("__g__"))
    buck_tot = hist.groupBy("bucket_start").agg(F.sum("__a__").alias("__na__"))
    grand = cat_tot.agg(F.sum("__g__").alias("__n__"))
    grid = (buck_tot
            .crossJoin(F.broadcast(cat_tot))
            .crossJoin(F.broadcast(grand))
            .join(hist, ["bucket_start", "__cat__"], "left")
            .select(
                "bucket_start", "__na__", "__n__", "__g__",
                F.coalesce(F.col("__a__"), F.lit(0)).alias("__a__")))
    a = F.col("__a__").cast("decimal(38,0)")
    g = F.col("__g__").cast("decimal(38,0)")
    na = F.col("__na__").cast("decimal(38,0)")
    nb = (F.col("__n__") - F.col("__na__")).cast("decimal(38,0)")
    b = g - a
    # per-term EXACT floor division (functions.exact; F.floor of the
    # decimal quotient is NOT //); a + b = g >= 1 by construction
    num_j = floor_div((a * nb - b * na) * (a * nb - b * na), g)
    out = (grid.groupBy("bucket_start")
           .agg(F.count(F.lit(1)).cast("long").alias("k"),
                F.first("__na__").cast("long").alias("n_bucket"),
                F.first(F.col("__n__") - F.col("__na__")).cast("long")
                 .alias("n_rest"),
                F.sum(num_j).cast("long").alias("chi2_num"),
                F.first(na * nb).cast("long").alias("chi2_den")))
    return out


def ks_onset(
    df: DataFrame,
    ts_col: str,
    column: str,
    *,
    bucket_s: int = 86_400,
) -> DataFrame:
    """Time-localized NUMERIC drift — the KS companion of
    chi_square_onset: for every time bucket, the two-sample
    Kolmogorov-Smirnov statistic of the bucket's value distribution
    (over a discrete/quantized value column) against the REST of the
    data. Chi-square onset ignores value ORDER, so a gradual mean
    shift spreads thin across categories; KS takes the sup over the
    ordered CDF gap and catches exactly that.

    Integer-exact rational output per bucket, the ks_two_sample_by
    convention: (bucket_start, n_bucket, n_rest, ks_num, ks_den) with
    ks_num = max_v |cumA_v * nb - cumB_v * na| and ks_den = na * nb.
    The sup only needs evaluating at observed value edges (both CDFs
    are flat between them), and the complement CDF derives from the
    global one: cumB_v = cumG_v - cumA_v.

    Scale shape: identical to chi_square_onset — ONE map-side-combined
    (bucket, value) hash agg over the raw rows; the dense bucket x
    value grid, the global cumulative counts and the per-bucket
    cumulative sums are windows/joins over that O(buckets x distinct)
    histogram. For unbounded-cardinality columns quantize first (the
    exact_quantiles rule): the KS of the quantized column is the KS
    read on the grid, and the histogram stays bounded.
    """
    if bucket_s < 1:
        raise ValueError("bucket_s must be >= 1")
    from pyspark.sql import Window

    from .sessions import _epoch_us

    sec = (_epoch_us(ts_col) / 1_000_000).cast("long")
    bucket = (sec - (sec % F.lit(bucket_s))).alias("bucket_start")
    hist = (df.where(F.col(ts_col).isNotNull() & F.col(column).isNotNull())
              .groupBy(bucket, F.col(column).alias("__v__"))
              .agg(F.count(F.lit(1)).alias("__a__")))
    hist = hold(hist.persist())
    val_tot = hist.groupBy("__v__").agg(F.sum("__a__").alias("__g__"))
    buck_tot = hist.groupBy("bucket_start").agg(F.sum("__a__").alias("__na__"))
    grand = val_tot.agg(F.sum("__g__").alias("__n__"))
    # dense grid so a value absent from the bucket still advances the
    # complement CDF at that edge
    grid = (buck_tot
            .crossJoin(F.broadcast(val_tot))
            .crossJoin(F.broadcast(grand))
            .join(hist, ["bucket_start", "__v__"], "left")
            .select("bucket_start", "__na__", "__n__", "__v__", "__g__",
                    F.coalesce(F.col("__a__"), F.lit(0)).alias("__a__")))
    wc = (Window.partitionBy("bucket_start").orderBy("__v__")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = grid.select(
        "bucket_start", "__na__", "__n__",
        F.sum("__a__").over(wc).alias("__cum_a__"),
        F.sum("__g__").over(wc).alias("__cum_g__"))
    na = F.col("__na__").cast("decimal(38,0)")
    nb = (F.col("__n__") - F.col("__na__")).cast("decimal(38,0)")
    cum_a = F.col("__cum_a__").cast("decimal(38,0)")
    cum_b = (F.col("__cum_g__") - F.col("__cum_a__")).cast("decimal(38,0)")
    gap = F.abs(cum_a * nb - cum_b * na)
    out = (cum.groupBy("bucket_start")
           .agg(F.first("__na__").cast("long").alias("n_bucket"),
                F.first(F.col("__n__") - F.col("__na__")).cast("long")
                 .alias("n_rest"),
                F.max(gap).cast("long").alias("ks_num"),
                F.first(na * nb).cast("long").alias("ks_den")))
    return out


def embedding_centroid_drift(
    df: DataFrame,
    vec_col: str,
    cohort_col: str,
    *,
    quant: int = 100,
) -> DataFrame:
    """Embedding-space drift between cohorts: for every cohort pair
    (a < b), the exact integer cosine² between the cohorts' CENTROID
    SUM vectors — the "did the embedding model silently change /
    did one shard come from a different encoder" detector scalar
    drift tests cannot see (per-dimension KS flags nothing when a
    rotation moves mass between dimensions; the inter-centroid angle
    moves immediately). Embeddings from the same encoder and content
    distribution keep inter-cohort centroid cosine high and stable;
    a re-encoded or corrupted shard collapses it.

    Components quantize to ``floor(value * quant)`` BEFORE any sum
    (float→double is exact, double multiply + floor are IEEE-identical
    in any engine — the repo's quantize-first rule), so the per-dim
    centroid sums, the dot product and the squared-cosine rational
    are exact integers: cos2_ppm = floor(1e6 * dot² / (|A|²·|B|²)),
    dot_sign carries the (lost-by-squaring) orientation. Output per
    pair: (cohort_a, cohort_b, n_a, n_b, dot_sign, cos2_ppm); NULL
    vectors/cohorts excluded; cohorts with a zero centroid (|S|² = 0)
    report cos2_ppm NULL.

    Scale shape at 10^12 vectors: posexplode multiplies rows by the
    dimension BEFORE a map-side-combined (cohort, dim) sum agg — the
    exchange carries O(cohorts × dims) counters; the pair join runs
    over that tiny frame. Exactness envelope: dot² runs in
    decimal(38), so per-cohort row counts past ~4·10^6 (at quant=100,
    unit-normalized inputs, 64 dims) should deterministically sample
    cohorts first (operators/sampling.py) or lower ``quant`` — the
    angle estimate does not sharpen with more rows anyway.
    """
    if quant < 1:
        raise ValueError("quant must be >= 1")
    q = F.floor(F.col("__v__").cast("double") * quant).cast("long")
    base = (df.where(F.col(vec_col).isNotNull()
                     & F.col(cohort_col).isNotNull())
              .select(F.col(cohort_col).alias("__c__"),
                      F.posexplode(vec_col).alias("__d__", "__v__"))
              .select("__c__", "__d__", q.alias("__q__")))
    sums = (base.groupBy("__c__", "__d__")
                .agg(F.sum("__q__").alias("__s__"),
                     F.count(F.lit(1)).alias("__n__")))
    per = (sums.groupBy("__c__")
               .agg(F.max("__n__").alias("n"),
                    F.sum(F.col("__s__").cast("decimal(38,0)")
                          * F.col("__s__")).alias("s2")))
    a = sums.select(F.col("__c__").alias("cohort_a"), "__d__",
                    F.col("__s__").alias("__sa__"))
    b = sums.select(F.col("__c__").alias("cohort_b"), "__d__",
                    F.col("__s__").alias("__sb__"))
    dots = (a.join(b, "__d__")
             .where(F.col("cohort_a") < F.col("cohort_b"))
             .groupBy("cohort_a", "cohort_b")
             .agg(F.sum(F.col("__sa__").cast("decimal(38,0)")
                        * F.col("__sb__")).alias("__dot__")))
    na = per.select(F.col("__c__").alias("cohort_a"),
                    F.col("n").alias("n_a"), F.col("s2").alias("__a2__"))
    nb = per.select(F.col("__c__").alias("cohort_b"),
                    F.col("n").alias("n_b"), F.col("s2").alias("__b2__"))
    den = F.col("__a2__") * F.col("__b2__")
    return (dots.join(F.broadcast(na), "cohort_a")
                .join(F.broadcast(nb), "cohort_b")
                .select("cohort_a", "cohort_b",
                        F.col("n_a").cast("long").alias("n_a"),
                        F.col("n_b").cast("long").alias("n_b"),
                        F.signum(F.col("__dot__")).cast("int")
                         .alias("dot_sign"),
                        F.when(den > 0,
                               floor_div(F.col("__dot__") * F.col("__dot__")
                                         * 1_000_000, den))
                         .otherwise(F.lit(None).cast("long"))
                         .alias("cos2_ppm")))

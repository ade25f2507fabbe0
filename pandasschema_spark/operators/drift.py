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

The per-group and onset forms stay in Spark and return integer-exact
rationals. Each exact statistic has one body: ``_chi2_by`` (two-sample
chi-square) and ``_ks_by`` (two-sample KS) over a (grp, bucket, a, b)
histogram, fed by the one tagged-union count (``_tagged_counts``) for
the per-group forms and by the one dense time-bucket grid
(``_onset_grid``) for the onsets.
"""

from __future__ import annotations

import dataclasses
import typing

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..functions import stats as _stats
from ..functions.exact import floor_div, ppm
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


def _tagged_counts(df_ref: DataFrame, df_cand: DataFrame, column: str,
                   *group_cols: str) -> DataFrame:
    """([grp,] bucket, c_ref, c_cand): both histograms in ONE shuffle —
    the frames are tagged and unioned so the counts come out of a single
    partial+final hash agg keyed (group, bucket), O(groups x categories)
    output, never rows. ``group_cols`` is empty or one column, renamed
    ``grp``."""
    grp = [F.col(g).alias("grp") for g in group_cols]

    def tagged(df, ref):
        return df.select(*grp, F.col(column).alias("bucket"), F.lit(ref).alias("__ref__"))

    return (tagged(df_ref, 1).unionAll(tagged(df_cand, 0))
            .groupBy(*(["grp"] if group_cols else []), "bucket")
            .agg(F.sum("__ref__").cast("long").alias("c_ref"),
                 F.sum(F.lit(1) - F.col("__ref__")).cast("long").alias("c_cand")))


def two_sample_categorical_counts(
    df_ref: DataFrame, df_cand: DataFrame, column: str
) -> DataFrame:
    """(bucket, c_ref, c_cand): the no-group case of the one tagged-union
    count (``_tagged_counts``). The building block for reference-vs-
    candidate drift on e.g. sr_hz between ingest batches."""
    return _tagged_counts(df_ref, df_cand, column)


def _two_sample_arrays(df_ref: DataFrame, df_cand: DataFrame, column: str, test: str):
    """The collected two-sample counts ``(a, b, na, nb, buckets)`` as
    floats, ``buckets`` the (label, candidate, scaled reference) report
    rows. Raises unless both samples are non-empty."""
    rows = two_sample_categorical_counts(df_ref, df_cand, column).collect()
    a = np.array([r["c_ref"] for r in rows], dtype=float)
    b = np.array([r["c_cand"] for r in rows], dtype=float)
    na, nb = a.sum(), b.sum()
    if na == 0 or nb == 0:
        raise ValueError("both samples must be non-empty for {}".format(test))
    buckets = [(str(r["bucket"]), float(bj), float(aj * nb / na))
               for r, aj, bj in zip(rows, a, b)]
    return a, b, na, nb, buckets


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
    a, b, na, nb, buckets = _two_sample_arrays(df_ref, df_cand, column, "two-sample chi-square")
    k1, k2 = np.sqrt(nb / na), np.sqrt(na / nb)
    tot = a + b
    mask = tot > 0
    stat = float((((a * k1 - b * k2) ** 2)[mask] / tot[mask]).sum())
    dof = max(int(mask.sum()) - 1, 1)
    p = _stats.chi2_sf(stat, dof)
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
    a, b, na, nb, buckets = _two_sample_arrays(df_ref, df_cand, column, "PSI")
    p = np.maximum(a / na, epsilon)
    q = np.maximum(b / nb, epsilon)
    psi = float(((p - q) * np.log(p / q)).sum())
    return DriftResult(column, "psi", psi, float("nan"), int(na + nb),
                       psi > threshold, threshold, buckets)


def two_sample_counts_by(
    df_ref: DataFrame, df_cand: DataFrame, group_col: str, column: str
) -> DataFrame:
    """(grp, bucket, c_ref, c_cand): per-GROUP two-sample histograms in
    one shuffle — the per-cohort case of the one tagged-union count
    (``_tagged_counts``; per-codec sr drift, per-language length
    drift)."""
    return _tagged_counts(df_ref, df_cand, column, group_col)


# The exact two-sample statistics. Each has ONE body, fed a
# (grp, bucket, a, b) histogram: a and b count the bucket in the two
# samples of group grp. The *_two_sample_by forms feed
# two_sample_counts_by (grp = the group column, a = reference,
# b = candidate); the onsets feed _onset_grid (grp = the time bucket,
# a = in the bucket, b = in the rest of the data). Rational integers,
# not floats: float summation order differs across engines, 128-bit
# integer arithmetic does not. The per-group totals and cumulative sums
# are windows over grp on the AGGREGATED histogram (never a second
# aggregation of the raw rows), and the final per-group agg reuses the
# window's hash(grp) partitioning.

def _chi2_by(hist: DataFrame) -> DataFrame:
    """(grp, k, n_a, n_b, chi2_num, chi2_den): the two-sample chi-square
    sum_j (a_j*nb - b_j*na)^2 / ((a_j+b_j) * na * nb) with both sqrt
    factors cleared, as chi2_num = sum_j (a_j*nb - b_j*na)^2 div
    (a_j+b_j) (per-term integer floor — deterministic across engines,
    bias < k against a statistic read at thresholds of O(10+)) over
    chi2_den = na*nb; k counts the group's histogram rows, and each row
    needs a_j + b_j >= 1. Callers compare chi2_num/chi2_den to the
    chi2(k-1) cutoff."""
    w = Window.partitionBy("grp")
    a, b, na, nb = (F.col(c).cast("decimal(38,0)") for c in ("a", "b", "n_a", "n_b"))
    term = a * nb - b * na
    # exact floor division (functions.exact): F.floor(dec/dec) is NOT
    # // — Spark rounds the scale-6 quotient HALF_UP before floor
    return (hist.select("grp", "a", "b",
                        F.sum("a").over(w).alias("n_a"),
                        F.sum("b").over(w).alias("n_b"),
                        F.count(F.lit(1)).over(w).alias("k"))
            .groupBy("grp")
            .agg(F.first("k").cast("long").alias("k"),
                 F.first("n_a").cast("long").alias("n_a"),
                 F.first("n_b").cast("long").alias("n_b"),
                 F.sum(floor_div(term * term, a + b)).cast("long").alias("chi2_num"),
                 F.first(na * nb).cast("long").alias("chi2_den")))


def _ks_by(hist: DataFrame) -> DataFrame:
    """(grp, n_a, n_b, ks_num, ks_den): the two-sample
    Kolmogorov-Smirnov statistic max_j |cumA_j * nb - cumB_j * na| /
    (na * nb) over the buckets in ``bucket`` order. The sup needs
    evaluating at every OBSERVED bucket edge only: between observed
    buckets both CDFs are flat, so the gap cannot change. Products ride
    decimal(38,0): na * nb overflows int64 past ~3e9 rows per side (long
    multiplication wraps SILENTLY in non-ANSI mode); ks_num <= ks_den,
    so both fit BIGINT whenever ks_den does."""
    wc = (Window.partitionBy("grp").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, 0))
    w = Window.partitionBy("grp")
    cum_a, cum_b, na, nb = (F.col(c).cast("decimal(38,0)")
                            for c in ("cum_a", "cum_b", "n_a", "n_b"))
    return (hist.select("grp",
                        F.sum("a").over(wc).alias("cum_a"),
                        F.sum("b").over(wc).alias("cum_b"),
                        F.sum("a").over(w).alias("n_a"),
                        F.sum("b").over(w).alias("n_b"))
            .groupBy("grp")
            .agg(F.first("n_a").cast("long").alias("n_a"),
                 F.first("n_b").cast("long").alias("n_b"),
                 F.max(F.abs(cum_a * nb - cum_b * na)).cast("long").alias("ks_num"),
                 F.first(na * nb).cast("long").alias("ks_den")))


def _two_sample_by(stat, df_ref: DataFrame, df_cand: DataFrame, group_col: str,
                   column: str) -> DataFrame:
    """``stat`` (``_chi2_by`` or ``_ks_by``) over two_sample_counts_by,
    a = reference and b = candidate, named n_ref/n_cand on the way out."""
    hist = two_sample_counts_by(df_ref, df_cand, group_col, column)
    return (stat(hist.withColumnsRenamed({"c_ref": "a", "c_cand": "b"}))
            .withColumnsRenamed({"n_a": "n_ref", "n_b": "n_cand"}))


def chi_square_two_sample_by(
    df_ref: DataFrame, df_cand: DataFrame, group_col: str, column: str
) -> DataFrame:
    """Per-group two-sample chi-square homogeneity, integer-exact
    (``_chi2_by`` over ``two_sample_counts_by``): (grp, k, n_ref, n_cand,
    chi2_num, chi2_den), the caller comparing chi2_num/chi2_den against
    the chi2(k-1) cutoff.

    Scale: the raw rows shuffle ONCE (tagged union, map-side combined,
    keyed (group, bucket)); the per-group totals are a window over the
    O(groups x categories) histogram, one more tiny exchange of it on
    grp, and the final per-group agg reuses that partitioning."""
    return _two_sample_by(_chi2_by, df_ref, df_cand, group_col, column)


def ks_two_sample_by(
    df_ref: DataFrame, df_cand: DataFrame, group_col: str, column: str
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic over a discrete
    bucket column, integer-exact (``_ks_by`` over
    ``two_sample_counts_by``): (grp, n_ref, n_cand, ks_num, ks_den) with
    KS = ks_num / ks_den. The numeric-drift companion of
    chi_square_two_sample_by (chi-square ignores bucket ORDER; KS is the
    sup over the ordered CDF gap, so it catches shifts chi-square
    dilutes). Same scale shape as the chi-square form: one tagged-union
    shuffle, then windows over the aggregated histogram only."""
    return _two_sample_by(_ks_by, df_ref, df_cand, group_col, column)


def _onset_grid(df: DataFrame, ts_col: str, column: str, bucket_s: int) -> DataFrame:
    """The onsets' dense (grp, bucket, a, b) grid: grp the
    ``bucket_s``-second time bucket, bucket a value of ``column``, a its
    count in the time bucket and b = g - a its count in the REST of the
    data (g its global count). Every time bucket carries every value, so
    a value absent from the bucket still contributes (chi-square) and
    still advances the complement CDF (KS).

    ONE map-side-combined (time bucket, value) hash agg over the raw
    rows, persisted; everything after reads that O(buckets x values)
    histogram: the value totals, the distinct time buckets and the
    broadcast cross join of the two, never a row-level op."""
    from .sessions import _epoch_bucket

    grp = _epoch_bucket(ts_col, bucket_s).alias("grp")
    hist = hold(df.where(F.col(ts_col).isNotNull() & F.col(column).isNotNull())
                  .groupBy(grp, F.col(column).alias("bucket"))
                  .agg(F.count(F.lit(1)).alias("a"))
                  .persist())
    tot = hist.groupBy("bucket").agg(F.sum("a").alias("g"))
    a = F.coalesce(F.col("a"), F.lit(0))
    return (hist.select("grp").distinct()
            .crossJoin(F.broadcast(tot))
            .join(hist, ["grp", "bucket"], "left")
            .select("grp", "bucket", a.alias("a"), (F.col("g") - a).alias("b")))


_ONSET_NAMES = {"grp": "bucket_start", "n_a": "n_bucket", "n_b": "n_rest"}


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
    from the SAME aggregated histogram (``_onset_grid``).

    ``_chi2_by`` over that grid, so the row of bucket t equals
    chi_square_two_sample_by of bucket t against the rest:
    (bucket_start, k, n_bucket, n_rest, chi2_num, chi2_den). k counts
    the GLOBAL category set: a category absent from the bucket still
    contributes its (0 - b_j*na)^2 term — vanishing categories are
    drift too. Buckets are integer epoch seconds floored to
    ``bucket_s`` (sessions._epoch_bucket).
    """
    return _chi2_by(_onset_grid(df, ts_col, column, bucket_s)).withColumnsRenamed(_ONSET_NAMES)


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

    ``_ks_by`` over chi_square_onset's grid (``_onset_grid``), so the
    row of bucket t equals ks_two_sample_by of bucket t against the
    rest: (bucket_start, n_bucket, n_rest, ks_num, ks_den). For
    unbounded-cardinality columns quantize first (the exact_quantiles
    rule): the KS of the quantized column is the KS read on the grid,
    and the histogram stays bounded.
    """
    return _ks_by(_onset_grid(df, ts_col, column, bucket_s)).withColumnsRenamed(_ONSET_NAMES)


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
                               ppm(F.col("__dot__") * F.col("__dot__"), den))
                         .otherwise(F.lit(None).cast("long"))
                         .alias("cos2_ppm")))

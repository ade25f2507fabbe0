"""Similarity search over embedding columns (array<float>).

Engine extensions for training-data pipelines (no reference analog —
SURVEY.md §2.4):

- **cosine_topk** — exact brute-force top-k: the (small) query set rides
  in the kernel's closure, one Arrow pass scores every (query, vector)
  pair and keeps each batch's own top k per query, then one per-query
  window picks the global top k. At 100 TB the scan is embarrassingly
  parallel; the only shuffle is that window's, and it carries at most k
  rows per query per batch instead of the corpus.

- **ivf_topk** — the scale path: an IVF (inverted-file) index. Vectors
  are bucketed by nearest centroid at index build; a query scores only
  the ``n_probe`` nearest cells. Recall < 1.0 by construction; the
  brute-force operator is the correctness oracle (tests assert recall).

Every Arrow kernel here scores with ``_cosine``: a double-precision fold
over the dimensions in order (``acc + a[i] * b[i]``), vectorised across
rows, then ``dot / (sqrt(na) * sqrt(nb))``. That is the order of
``dot_expr``/``norm_expr`` and of DuckDB's ``list_reduce``, so every
score is bit-identical to the oracle's. One rule covers undefined
cosines: a NULL vector, a NULL or non-finite element, a zero norm, or a
length that differs from the other side's has no cosine, and the pair is
absent — never a crash, a NULL score or an arbitrary cell.
"""

from __future__ import annotations

import typing

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from ..frames import local_frame
from ..resources import hold
from .banding import bit_chunks, bucket_pairs, drop_hot_keys


def dot_expr(a: Column, b: Column) -> Column:
    """Deterministic double-precision dot product: elementwise product via
    zip_with, left-to-right fold via aggregate. Native codegen — no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _stack(vecs, width=None):
    """Array values as a float64 (width, n) matrix for ``_cosine``, one
    column per vector (dimension-major, so each step of a fold reads one
    contiguous row), and their lengths. Columns are zero-padded to
    ``width`` (default: the longest, and at least one, so that a NULL
    vector always holds a NaN); a zero adds nothing to a fold, so a short
    vector keeps its cosine with one of its own length. A NULL vector, or
    one longer than ``width``, is a column of NaN, and a NULL element
    reads as NaN."""
    lens = np.array([0 if v is None else len(v) for v in vecs], dtype=np.int64)
    if width is None:
        width = int(lens.max(initial=1))
    mat = np.zeros((len(lens), width))
    for i, v in enumerate(vecs):
        if v is None or lens[i] > width:
            mat[i] = np.nan
        else:
            mat[i, :lens[i]] = v
    return np.ascontiguousarray(mat.T), lens


def _fold(a, b):
    """Dot products of the columns of ``a`` and ``b`` (broadcast over all
    but the first axis), summed over the first axis in index order."""
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _cosine(a, a_len, b, b_len):
    """Cosines of the columns of ``a`` and ``b`` (``_stack`` output of one
    width, broadcast like ``_fold``), NaN where undefined."""
    with np.errstate(all="ignore"):
        cos = _fold(a, b) / (np.sqrt(_fold(a, a)) * np.sqrt(_fold(b, b)))
    cos[a_len != b_len] = np.nan
    return cos


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, cos) with deterministic
    (-cos, vec_id) tie order, self-matches excluded when ids collide.
    A pair with no cosine is absent (the module's rule), so a query set
    with no defined vector gives an empty result.

    Plan: the query set is collected to the driver and shipped in the
    kernel's closure; one Arrow pass scores each batch against it and
    keeps the batch's top k per query, then ONE per-query row_number
    window over those rows picks the global top k, so the hash(query_id)
    exchange carries O(batches * |Q| * k) rows, not the corpus."""
    q_rows = queries.select(query_id_col, query_vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows])  # any id type
    q_mat, q_len = _stack([r[1] for r in q_rows])

    # id columns keep their input Spark types (string clip ids work too)
    out_schema = T.StructType([
        T.StructField("query_id", queries.schema[query_id_col].dataType),
        T.StructField("vec_id", df.schema[id_col].dataType),
        T.StructField("cos", T.DoubleType()),
    ])

    def score(batches):
        for b in batches:
            ids = b[id_col].to_numpy()
            mat, lens = _stack(b[vec_col], len(q_mat))
            sims = _cosine(mat[:, :, None], lens[:, None], q_mat[:, None], q_len[None])
            outs = []
            for qi in range(len(q_ids)):
                col = sims[:, qi]
                cand = np.nonzero(np.isfinite(col) & (ids != q_ids[qi]))[0]
                top = cand[np.lexsort((ids[cand], -col[cand]))][:k]
                if len(top):
                    outs.append(pd.DataFrame({
                        "query_id": q_ids[qi], "vec_id": ids[top], "cos": col[top]}))
            if outs:
                yield pd.concat(outs)

    pruned = df.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        pruned.withColumn("__r__", F.row_number().over(w))
        .where(F.col("__r__") <= k)
        .select("query_id", "vec_id", "cos")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    centroids: DataFrame = None,
    n_probe: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    cos >= threshold and id_a < id_b. Candidates are scored by one Arrow
    pass (``_cosine``); a pair with no cosine is absent.

    With centroids (the scale path): IVF multi-probe blocking — every
    vector is assigned to its ``n_probe`` nearest cells
    (assign_probe_cells), candidate pairs are vectors sharing >=1 cell
    (deduplicated BEFORE scoring, so a pair sharing two cells is scored
    once), and only candidates are scored. Multi-probe recovers the
    near-dups that straddle a cell boundary — the single-cell blocking
    miss mode — at the cost of ~n_probe x the membership rows; join
    fan-out stays bounded per cell exactly as in ivf_topk.

    Without centroids: exact all-pairs — a self range-join on the scored
    cross product. O(n^2) scoring, embarrassingly parallel but a
    cartesian product: viable for dim tables / sampled audits (<=~10^5
    rows), NOT for a web corpus — pass centroids there. Kept as the
    small-scale recall oracle for the bucketed path."""
    if centroids is not None:
        memb = assign_probe_cells(
            df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")),
            centroids, n_probe=n_probe,
        ).select(F.col("query_id").alias("id"), "cell")
        cand = (
            memb.select("cell", F.col("id").alias("id_a"))
            .join(memb.select("cell", F.col("id").alias("id_b")), "cell")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va__"))
        vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb__"))
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    else:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va__"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb__"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    id_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("cos", T.DoubleType()),
    ])

    def gen(batches):
        for b in batches:
            va, la = _stack(b["__va__"])
            vb, lb = _stack(b["__vb__"], len(va))
            cos = _cosine(va, la, vb, lb)
            keep = cos >= threshold  # an undefined (NaN) cosine never is
            yield pd.DataFrame({
                "id_a": b["id_a"].to_numpy()[keep],
                "id_b": b["id_b"].to_numpy()[keep],
                "cos": cos[keep],
            })

    return pairs.select("id_a", "id_b", "__va__", "__vb__").mapInPandas(gen, schema)


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cell",
    centroid_vec_col: str = "cvec",
) -> DataFrame:
    """IVF build: assign each vector to its nearest centroid (max cosine,
    tie -> smallest cell id). Centroids broadcast; the argmax is the
    house groupBy max(struct(score, -cell, payload)) — map-side partials
    collapse the k scored copies to ONE row per vector inside the scan
    task, so the exchange carries each embedding once (a row_number
    window here would shuffle all n*k embedding-carrying rows). Cell ids
    must be numeric (train_ivf_centroids emits integer ordinals) so the
    smallest-cell tiebreak can ride the struct as -cell; payload sits
    LAST in the struct and can never decide (cell ids are unique)."""
    cell_t = dict((f.name, f.dataType)
                  for f in centroids.schema.fields)[centroid_id_col]
    if not isinstance(cell_t, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType)):
        raise ValueError(
            "assign_cells needs integral cell ids (got {}) — the argmax "
            "tiebreak negates them".format(cell_t.simpleString()))
    c = F.broadcast(centroids.select(
        F.col(centroid_id_col).alias("cell"), F.col(centroid_vec_col).alias("__cv__")
    ))
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v__"))
    scored = base.crossJoin(c).select(
        "vec_id",
        "__v__",
        "cell",
        F.try_divide(
            dot_expr(F.col("__v__"), F.col("__cv__")),
            norm_expr(F.col("__v__")) * norm_expr(F.col("__cv__"))).alias("__s__"),
    )
    # a vector with no defined cosine to ANY cell is absent from the
    # index, the module's rule (embedding_validate flags it upstream):
    # try_divide gives NULL for a zero norm, zip_with's NULL padding for
    # a length mismatch, a NULL element NULL, and a non-finite one NaN
    scored = scored.where(F.col("__s__").isNotNull() & ~F.isnan("__s__"))
    best = (scored.groupBy("vec_id")
            .agg(F.max(F.struct(
                F.col("__s__").alias("s"),
                (-F.col("cell")).cast("long").alias("nc"),
                F.col("cell").alias("cell"),
                F.col("__v__").alias("v"))).alias("__b__")))
    return best.select(
        "vec_id", F.col("__b__.v").alias("embedding"), F.col("__b__.cell").alias("cell"))


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: score only vectors in each query's n_probe
    nearest cells. At scale the index table is written partitioned by
    ``cell`` so the probe is a partition-pruned scan; here the same
    pruning happens via the (query cell) semi-join. A query or vector
    with no cosine to any centroid is absent (the module's rule)."""
    indexed = assign_cells(df, centroids, id_col=id_col, vec_col=vec_col)
    q_cells = assign_probe_cells(
        queries, centroids, n_probe=n_probe,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    )
    qv = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv__"))
    cand = indexed.join(q_cells, "cell").join(F.broadcast(qv), "query_id")
    scored = cand.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        F.try_divide(
            dot_expr(F.col("embedding"), F.col("__qv__")),
            norm_expr(F.col("embedding")) * norm_expr(F.col("__qv__"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("__r__", F.row_number().over(w))
        .where(F.col("__r__") <= k)
        .select("query_id", "vec_id", "cos")
    )


def assign_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    *,
    n_probe: int,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, cell) for each query's n_probe nearest centroids by
    ``_cosine``, ties by ascending cell (the oracle's window order): one
    Arrow pass against the centroid matrix, which rides in the kernel's
    closure. A (query, centroid) pair with no cosine is never a probe."""
    c_rows = sorted(centroids.select("cell", "cvec").collect(),
                    key=lambda r: r["cell"])
    cells = np.array([r["cell"] for r in c_rows])  # any orderable cell type
    c_mat, c_len = _stack([r["cvec"] for r in c_rows])
    take = min(n_probe, len(cells))
    schema = T.StructType([
        T.StructField("query_id", queries.schema[query_id_col].dataType),
        T.StructField("cell", centroids.schema["cell"].dataType),
    ])

    def gen(batches):
        for b in batches:
            mat, lens = _stack(b[query_vec_col], len(c_mat))
            sims = _cosine(mat[:, :, None], lens[:, None], c_mat[:, None], c_len[None])
            # stable sort over cell-ascending columns: ties go to the
            # smaller cell, and NaN (no cosine) sorts last
            top = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            keep = np.isfinite(np.take_along_axis(sims, top, axis=1)).ravel()
            yield pd.DataFrame({
                "query_id": np.repeat(b[query_id_col].to_numpy(), take)[keep],
                "cell": cells[top].ravel()[keep],
            })

    return queries.select(query_id_col, query_vec_col).mapInPandas(gen, schema)


# ---------------------------------------------------------------------------
# IVF centroid training (spherical k-means)
# ---------------------------------------------------------------------------


def train_ivf_centroids(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 64,
    n_iter: int = 5,
) -> DataFrame:
    """Train the IVF coarse quantizer: spherical k-means (Lloyd's with
    cosine assignment + L2-normalized means). Returns a (cell, cvec)
    DataFrame pluggable into assign_cells / ivf_topk /
    assign_probe_cells / embedding_near_dup_pairs — closing the loop so
    the ANN scale path no longer depends on hand-picked centroids.

    Deterministic throughout: init is maximin (farthest-point) seeding
    over the 64*k corpus rows with the smallest md5(id) — first seed =
    smallest hash, each next seed the sampled point least similar to
    its nearest chosen seed. No RNG state, insensitive to partitioning,
    and (unlike pure hash-order init) two seeds cannot land inside one
    tight cluster while another cluster goes unseeded — the failure
    mode that leaves Lloyd's stuck with merged cells. Ties in
    assignment break by ascending cell.

    Scale shape per iteration (the 10^12-row plan):
    - ASSIGN: assign_probe_cells, one Arrow pass against the (k x dim,
      driver-sized) centroids in its closure — no shuffle, no window.
    - MEAN: posexplode(vec) -> groupBy(cell, pos) sum/count. Catalyst's
      partial aggregation combines per partition BEFORE the exchange,
      so shuffle volume is O(partitions * k * dim) accumulator entries —
      the same volume a hand-written mapPartitions partial-sum would
      ship — and the result (k x dim) collects to the driver, is
      normalized in numpy, and re-broadcasts as the next centroids.
    - Empty cells keep their previous centroid (standard Lloyd's fix).

    n_iter is fixed rather than convergence-tested: each iteration is
    two jobs, and IVF recall needs a decent partition of the space, not
    the k-means optimum. Not SQL-oracle-gated (iterative float means
    reassociate differently across engines); verified by pytest on
    planted well-separated clusters + monotone inertia."""
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v__"))

    # deterministic maximin seeding over a hash-ordered driver sample
    # (no RNG, no .rdd, partitioning-proof; the sample is k*64 rows —
    # driver-sized at any corpus scale)
    sample = (
        base.withColumn("__h__", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h__")
        .limit(max(k, 64 * k))
        .select("__v__")
        .collect()
    )
    # seed only from vectors with a cosine (the module's rule): every
    # element finite, a nonzero norm, the length of the first such one
    mat, lens = _stack([r["__v__"] for r in sample])
    X = mat.T
    with np.errstate(all="ignore"):
        xn = np.linalg.norm(X, axis=1, keepdims=True)
    ok = np.isfinite(X).all(axis=1) & np.isfinite(xn[:, 0]) & (xn[:, 0] > 0)
    if not ok.any():
        raise ValueError("train_ivf_centroids: no sampled vector has a cosine")
    dim = int(lens[ok][0])
    ok &= lens == dim
    Xn = X[ok, :dim] / xn[ok]
    chosen = [0]  # smallest md5 hash
    best_cos = Xn @ Xn[0]  # similarity of every sample point to its nearest seed
    for _ in range(1, min(k, len(Xn))):
        nxt = int(np.argmin(best_cos))  # least similar to all chosen seeds
        chosen.append(nxt)
        best_cos = np.maximum(best_cos, Xn @ Xn[nxt])
    cents = Xn[chosen]
    if len(cents) < k:  # corpus smaller than k: duplicate-pad determinate
        cents = np.vstack([cents, cents[: k - len(cents)]])

    spark = df.sparkSession
    for _ in range(n_iter):
        cdf = local_frame(
            spark, [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
            "cell int, cvec array<float>",
        )
        memb = assign_probe_cells(
            base.select(F.col("vec_id").alias("query_id"),
                        F.col("__v__").alias("query_vec")),
            cdf, n_probe=1,
        )
        joined = base.join(
            memb.select(F.col("query_id").alias("vec_id"), "cell"), "vec_id")
        sums = (
            joined.select("cell", F.posexplode("__v__").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        new = cents.copy()  # empty cells keep their previous centroid
        acc = np.zeros((len(cents), dim))
        cnt = np.zeros(len(cents))
        for r in sums:
            acc[r["cell"], r["pos"]] += r["s"]
            cnt[r["cell"]] = r["c"]
        nonempty = cnt > 0
        new[nonempty] = acc[nonempty] / cnt[nonempty, None]
        nn = np.linalg.norm(new, axis=1, keepdims=True)
        nn[nn == 0.0] = 1.0
        cents = new / nn

    return local_frame(
        spark, [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cell int, cvec array<float>",
    )


def embedding_norm_violations(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    expected_dim: typing.Optional[int] = None,
    min_norm2_micro: typing.Optional[int] = None,
    max_norm2_micro: typing.Optional[int] = None,
) -> DataFrame:
    """Embedding-store validation: rows whose vector is NULL, has the
    wrong dimensionality, contains non-finite entries, or whose squared
    L2 norm falls outside [min_norm2_micro, max_norm2_micro] (norm2 as
    floor(sum(x^2) * 1e6) — the integer-micro convention the ANN oracles
    use). A normalized embedding store silently drifting off unit norm
    breaks every downstream cosine ranking; this is the cheap scan-time
    gate that catches it.

    Output: (id, dim, norm2_micro) for flagged rows; a NULL vector has
    dim 0, and a vector with no finite norm2_micro (a NULL or non-finite
    element, or a sum past the long range) has norm2_micro NULL and is
    always flagged. One Arrow pass sums the squares in dimension order
    (``_fold``, the oracle's list_reduce order): row-local, a single
    pruned scan, no shuffle."""
    def score(batches):
        for b in batches:
            mat, lens = _stack(b["vec"])
            with np.errstate(all="ignore"):
                n2 = np.floor(_fold(mat, mat) * 1e6)
                ok = np.isfinite(n2) & (n2 < 2.0 ** 63)
            yield pd.DataFrame({
                "id": b["id"],
                "dim": lens.astype(np.int32),
                "norm2_micro": pd.arrays.IntegerArray(
                    np.where(ok, n2, 0).astype(np.int64), ~ok),
            })

    out_schema = T.StructType([
        T.StructField("id", df.schema[id_col].dataType),
        T.StructField("dim", T.IntegerType()),
        T.StructField("norm2_micro", T.LongType()),
    ])
    base = (df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
            .mapInPandas(score, out_schema))
    cond = F.col("norm2_micro").isNull()
    if expected_dim is not None:
        cond = cond | (F.col("dim") != expected_dim)
    if min_norm2_micro is not None:
        cond = cond | (F.col("norm2_micro") < min_norm2_micro)
    if max_norm2_micro is not None:
        cond = cond | (F.col("norm2_micro") > max_norm2_micro)
    return base.where(cond)


def embedding_validate(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding QC gate: (id, n_dims, has_nan, is_zero, has_null) for
    every vector that is the wrong dimension, carries a NaN or a NULL
    element, or is all-zero — the defects that silently poison ANN/cosine
    math downstream (a NaN contaminates every dot product it meets; a
    NULL element becomes NaN the moment numpy sees the array; a zero
    vector has no direction to normalize).

    Row-local and codegen-clean by construction: NO higher-order array
    functions (F.exists/F.filter lambdas are CodegenFallback) — NaN
    detection exploits Spark's NaN-is-largest ordering (``array_max`` of
    a NaN-bearing array IS NaN), NULL-element detection exploits
    sort_array's NULLS-FIRST ordering (first sorted element is NULL iff
    any element is; array_min/max SKIP nulls so they cannot see this
    defect), zero detection is array_min=array_max=0, dimension is
    ``size``. One pruned scan -> fused projection -> filter; zero
    shuffle, embeddings never leave their partitions.
    """
    emb = F.col(emb_col)
    n_dims = F.coalesce(F.size(emb), F.lit(-1))  # NULL embedding -> -1, never filter-silent
    has_nan = F.coalesce(F.isnan(F.array_max(emb)), F.lit(False))
    has_null = F.coalesce(
        F.element_at(F.sort_array(emb), 1).isNull() & (n_dims > 0), F.lit(False)
    )
    is_zero = F.coalesce(
        (F.array_min(emb) == 0) & (F.array_max(emb) == 0) & (n_dims > 0), F.lit(False)
    )
    return (
        df.select(
            F.col(id_col),
            n_dims.alias("n_dims"),
            has_nan.alias("has_nan"),
            is_zero.alias("is_zero"),
            has_null.alias("has_null"),
        )
        .where((F.col("n_dims") != dim) | F.col("has_nan") | F.col("is_zero")
               | F.col("has_null"))
    )


def label_agreement(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
) -> DataFrame:
    """Label-noise mining by neighborhood vote (the Confident-Learning
    triage question over an embedding space): for each query vector, its
    k nearest corpus neighbors by cosine vote with THEIR labels; a row
    whose own label loses the vote is a mislabel suspect — per-row
    validation can check a label is IN a list (reference
    InListValidation), only the geometry can say it is WRONG for the
    content (the embedding-space sibling of lang_confusion's
    declared-vs-detected rule). Output per query:
    (query_id, own_label, majority_label, n_same, n_neighbors, suspect)
    with majority ties broken toward the SMALLEST label (the
    ids-decide-ties rule — vote counts never let payload order decide)
    and suspect = majority_label != own_label. Contract: query labels
    must be NON-NULL — a NULL own_label makes ``suspect`` NULL (SQL
    three-valued !=, neither True nor False), so a downstream
    ``where(suspect)`` silently drops that query instead of flagging
    it; filter or impute NULL-labeled queries BEFORE mining (the gated
    oracle attests exactly this NULL-propagating semantics, so the
    engine will not coalesce it away underneath you). All outputs are
    integer counts and labels — cross-engine exact; the cosine ranking
    underneath is cosine_topk's, bit-identical to the oracle's fold.

    Scale shape: neighbor search is ``cosine_topk`` (broadcast queries,
    two-level per-partition top-k — the corpus never shuffles); the
    O(|Q|·k) neighbor frame then BROADCASTS against one pruned
    (id, label) corpus scan to fetch neighbor labels (never a shuffle
    join of the corpus), votes reduce map-side to O(|Q| · labels)
    counters, the argmax is the house max(struct(cnt, -label)) — no
    window over data — and own labels ride the broadcast query frame.
    For corpus-scale query sets swap the brute-force stage for
    ``ivf_topk`` upstream; the voting stages are unchanged.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # cosine_topk's output columns are always (query_id, vec_id, cos)
    # regardless of the input column names — rename here so caller
    # names flow through correctly
    nbrs = cosine_topk(df, queries, id_col=id_col, vec_col=vec_col,
                       query_id_col=query_id_col,
                       query_vec_col=query_vec_col, k=k) \
        .select(F.col("query_id").alias("__qid__"),
                F.col("vec_id").alias("__nid__"))
    # NULL-labeled neighbors cannot vote: they would inflate
    # n_neighbors, could WIN the majority (making majority_label NULL
    # and suspect three-valued), and can never match own_label — so the
    # vote ranges over labeled neighbors only. A query whose neighbors
    # are ALL unlabeled is absent from the output (no defensible vote).
    labeled = (df.select(F.col(id_col).alias("__nid__"),
                         F.col(label_col).alias("__nl__"))
               .where(F.col("__nl__").isNotNull())
               .join(F.broadcast(nbrs), "__nid__"))
    votes = (labeled.groupBy("__qid__", "__nl__")
             .agg(F.count(F.lit(1)).alias("__c__")))
    tot = votes.groupBy("__qid__").agg(
        F.sum("__c__").cast("long").alias("n_neighbors"),
        F.max("__c__").alias("__cmax__"))
    # smallest label among the count-tied winners — min() is generic
    # over any orderable label type (ints AND strings), unlike a
    # negate-and-max trick which NULLs out non-numerics
    maj = (votes.join(F.broadcast(tot.select("__qid__", "__cmax__")),
                      "__qid__")
           .where(F.col("__c__") == F.col("__cmax__"))
           .groupBy("__qid__")
           .agg(F.min("__nl__").alias("majority_label")))
    own = queries.select(F.col(query_id_col).alias("__qid__"),
                         F.col(label_col).alias("own_label"))
    # n_same reads straight off the aggregated votes frame — never a
    # second corpus scan
    same = (votes.join(F.broadcast(own), "__qid__")
            .where(F.col("__nl__") == F.col("own_label"))
            .groupBy("__qid__")
            .agg(F.sum("__c__").cast("long").alias("n_same")))
    out = (tot.select("__qid__", "n_neighbors")
           .join(F.broadcast(own), "__qid__")
           .join(F.broadcast(maj), "__qid__")
           .join(F.broadcast(same), "__qid__", "left")
           .select(
               F.col("__qid__").alias(query_id_col),
               "own_label",
               "majority_label",
               F.coalesce(F.col("n_same"), F.lit(0)).cast("long")
                .alias("n_same"),
               "n_neighbors"))
    return out.withColumn(
        "suspect", F.col("majority_label") != F.col("own_label"))


def hyperplane_signature(
    df: DataFrame,
    dim: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 48,
    quant: int = 1_000_000,
    salt: str = "hp",
) -> DataFrame:
    """Sign-random-projection (cosine LSH) signature per vector — the
    TRAIN-FREE blocking key for embedding near-dup at corpus scale
    (ivf_topk needs a centroid-training pass; this needs nothing):
    bit p of the signature is the side of deterministic hyperplane p
    the vector falls on, planes derived from md5(salt:p:dim) signs
    (+1 when the first hex char is 0-7), so two engines build
    byte-identical planes with no RNG and no stored model. Vectors
    with cosine near 1 agree on almost all bits (P(bit differs) =
    angle/pi — Charikar's SimHash for real vectors; the text simhash64
    is the same construction over gram hashes).

    Components quantize floor(v * quant) BEFORE any arithmetic (the
    embedding_centroid_drift rule: float->double exact, double multiply
    + floor IEEE-identical), so every plane sum is an exact integer and
    a signature can be attested bit-for-bit across engines. A zero sum
    counts as positive (>= 0) — deterministic both sides. NULL
    embeddings AND vectors whose length != ``dim`` are excluded (an
    empty or short vector has no defensible signature, and a silent
    posexplode drop would diverge from any fixed-dim replay —
    embedding_validate is the gate that FLAGS them first). n_planes
    <= 62 keeps the signature a positive int64.

    Scale shape at 10^12 vectors: the P x dim sign table (<= ~4k rows)
    BROADCASTS against the posexplode'd (id, dim, q) frame — the only
    exchanges are the map-side-combined (id, plane) sum agg and the
    O(id) signature rollup; per-row md5 work is ZERO (signs live in the
    broadcast, never recomputed per vector).
    """
    if not (1 <= n_planes <= 62):
        raise ValueError("n_planes must be in [1, 62]")
    if dim < 1 or quant < 1:
        raise ValueError("dim and quant must be >= 1")
    spark = df.sparkSession
    planes = (spark.range(n_planes).select(F.col("id").alias("__p__"))
              .crossJoin(spark.range(dim).select(F.col("id").alias("__d__")))
              .select("__p__", "__d__",
                      F.when(F.substring(F.md5(F.encode(F.concat_ws(
                          ":", F.lit(salt), F.col("__p__"),
                          F.col("__d__")), "UTF-8")), 1, 1)
                          .isin(*"01234567"),
                          F.lit(1)).otherwise(F.lit(-1))
                      .cast("long").alias("__sign__")))
    base = (df.where(F.col(vec_col).isNotNull()
                     & (F.size(vec_col) == int(dim)))
            .select(F.col(id_col),
                    F.posexplode(vec_col).alias("__d__", "__v__"))
            .select(id_col, "__d__",
                    F.floor(F.col("__v__").cast("double") * quant)
                     .cast("long").alias("__q__")))
    sums = (base.join(F.broadcast(planes), "__d__")
            .groupBy(id_col, "__p__")
            .agg(F.sum(F.col("__sign__") * F.col("__q__")).alias("__s__")))
    return (sums.groupBy(id_col)
            .agg(F.sum(F.when(
                F.col("__s__") >= 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__p__ AS INT))"))
                .otherwise(F.lit(0).cast("long"))).cast("long").alias("sig")))


def cosine_lsh_candidates(
    df: DataFrame,
    dim: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 48,
    chunk_bits: int = 16,
    quant: int = 1_000_000,
    salt: str = "hp",
    max_bucket: typing.Optional[int] = 10_000,
) -> DataFrame:
    """Near-dup candidate pairs from hyperplane signatures: pairs
    agreeing on >= 1 of the signature's ``chunk_bits``-bit chunks (the
    simhash_candidates Hamming-ball banding — 48 planes / 16-bit chunks
    catches every pair within Hamming distance 2, i.e. near-parallel
    vectors). Candidates ONLY — verify with exact cosine
    (``cosine_topk`` / a threshold compare) before acting; precision is
    the verifier's job, this stage buys the O(n^2) -> O(collisions)
    reduction without IVF's training pass.

    Hot chunks (degenerate corpora: many zero vectors, constant
    embeddings) are capped by the house rule — groupBy-count +
    broadcast anti-join at ``max_bucket`` members per (chunk_idx,
    value); None = exact. The signature frame persists (two consumers).
    """
    from pyspark import StorageLevel

    chunks = bit_chunks(F.col("sig"), n_planes, chunk_bits)
    sigs = hold(hyperplane_signature(
        df, dim, id_col=id_col, vec_col=vec_col, n_planes=n_planes,
        quant=quant, salt=salt).persist(StorageLevel.MEMORY_AND_DISK))
    [chunked] = drop_hot_keys(
        [sigs.select(id_col, F.posexplode(chunks).alias("chunk_idx", "chunk_val"))],
        ["chunk_idx", "chunk_val"], max_bucket)
    return bucket_pairs(chunked, ["chunk_idx", "chunk_val"], id_col)

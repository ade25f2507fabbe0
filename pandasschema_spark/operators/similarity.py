"""Similarity search over embedding columns (array<float>).

Engine extensions for training-data pipelines (no reference analog —
SURVEY.md §2.4):

- **cosine_topk** — exact brute-force top-k: broadcast the (small) query
  set, score every (query, vector) pair with a native double-precision
  fold (zip_with + aggregate — JVM codegen, deterministic left-to-right
  accumulation, so results are bit-reproducible across engines), then
  per-query top-k. At 100 TB the scan is embarrassingly parallel; the
  only shuffle is the per-query top-k reduction, whose input we pre-prune
  with a per-partition top-k so each partition ships at most k rows per
  query instead of its whole slice.

- **ivf_topk** — the scale path: an IVF (inverted-file) index. Vectors
  are bucketed by nearest centroid at index build; a query scores only
  the ``n_probe`` nearest cells. Recall < 1.0 by construction; the
  brute-force operator is the correctness oracle (tests assert recall).
"""

from __future__ import annotations

import typing

from pyspark.sql import Column, DataFrame, Window, functions as F

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


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    impl: str = "arrow",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, cos) with deterministic
    (-cos, vec_id) tie order, self-matches excluded when ids collide.

    Plan: broadcast the query set -> narrow scoring projection -> ONE
    per-query row_number window. Spark's WindowGroupLimit pushes a
    partial top-k below the exchange (map-side), so the single
    hash(query_id) shuffle carries O(tasks * |Q| * k) rows, not the full
    corpus — a manual per-partition pre-prune window would itself need a
    hash(partition_id, query_id) Exchange of the ENTIRE cross product
    and is strictly worse (measured: 3 exchanges vs 2).

    impl='arrow' (default, the 100 TB path): one numpy
    (batch, dim) @ (dim, |Q|) matmul per Arrow batch — orders of
    magnitude faster than per-element expression folds. impl='expr':
    zip_with/aggregate double fold — left-to-right accumulation,
    bit-reproducible in any engine (kept as the oracle/determinism mode),
    but interpreted per element by Catalyst (~0.4 ms per 64-dim pair).
    The matmul reassociates the sum, so scores can differ from 'expr' by
    ~1 ulp (ranking is tested to agree; floor(cos*1e6) comparisons absorb
    the reassociation)."""
    if impl == "arrow":
        return _cosine_topk_arrow(df, queries, id_col=id_col, vec_col=vec_col,
                                  query_id_col=query_id_col, query_vec_col=query_vec_col, k=k)
    q = F.broadcast(queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv__")
    ))
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v__"))
    scored = (
        base.crossJoin(q)
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.try_divide(
                dot_expr(F.col("__v__"), F.col("__qv__")),
                norm_expr(F.col("__v__")) * norm_expr(F.col("__qv__"))).alias("cos"),
        )
        # undefined cosines are ABSENT, matching the arrow kernel's
        # rule: try_divide (NOT /) maps a zero norm to NULL even under
        # Spark 4's ANSI default where / THROWS DIVIDE_BY_ZERO, and a
        # NULL element NULLs the fold — otherwise they'd pad out sparse
        # top-k lists (or kill the job)
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("__r__", F.row_number().over(w))
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
    impl: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    cos >= threshold and id_a < id_b.

    ``impl='arrow'`` (default, same as cosine_topk): one vectorized numpy
    pass per Arrow batch scores candidates ~100x faster than the
    per-element expression fold on wide embeddings; identical result set
    at any healthy threshold margin. ``impl='expr'`` is the bitwise
    oracle mode (left-to-right fold == DuckDB list_reduce) kept for
    cross-engine hash parity.

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
            centroids, n_probe=n_probe, impl=impl,
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
    if impl == "arrow":
        return _score_pairs_arrow(pairs, df.schema[id_col].dataType, threshold)
    cos = F.try_divide(dot_expr(F.col("__va__"), F.col("__vb__")),
                       norm_expr(F.col("__va__")) * norm_expr(F.col("__vb__")))
    return pairs.select("id_a", "id_b", cos.alias("cos")).where(F.col("cos") >= threshold)


def _score_pairs_arrow(pairs: DataFrame, id_type, threshold: float) -> DataFrame:
    """Arrow scoring of candidate pairs: one vectorized numpy pass per
    batch instead of a per-element expression fold (~100x on wide
    embeddings). Same result set at any healthy threshold margin; exact
    float ties vs the fold may differ by reassociation, so the
    oracle-parity gates keep impl='expr'."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("cos", T.DoubleType()),
    ])

    def gen(batches):
        for b in batches:
            if not len(b):
                continue
            va = np.stack([np.asarray(v, dtype=np.float64) for v in b["__va__"]])
            vb = np.stack([np.asarray(v, dtype=np.float64) for v in b["__vb__"]])
            na = np.linalg.norm(va, axis=1)
            nb = np.linalg.norm(vb, axis=1)
            denom = na * nb
            denom[denom == 0.0] = np.inf
            cos = (va * vb).sum(axis=1) / denom
            keep = cos >= threshold
            yield pd.DataFrame({
                "id_a": b["id_a"].to_numpy()[keep],
                "id_b": b["id_b"].to_numpy()[keep],
                "cos": cos[keep],
            })

    return pairs.select("id_a", "id_b", "__va__", "__vb__").mapInPandas(gen, schema)


def _cosine_topk_arrow(
    df: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    k: int,
) -> DataFrame:
    """Scale path: per-partition numpy scoring + local top-k via
    mapInPandas (query matrix shipped in the closure — it is the small
    side), then the global per-query window over <=k rows per partition."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = [r for r in queries.select(query_id_col, query_vec_col).collect()
              if r[query_vec_col] is not None]
    if not q_rows:
        raise ValueError("cosine_topk: no non-null query vectors")
    q_ids = np.array([r[query_id_col] for r in q_rows])  # any id type
    q_mat = np.stack([np.asarray(r[query_vec_col], dtype=np.float64) for r in q_rows])
    # zero-norm / NaN (NULL-element) queries have no defined cosine —
    # excluded, matching the candidate-side rule below
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_ok = np.isfinite(q_norm) & (q_norm > 0)
    q_ids, q_mat, q_norm = q_ids[q_ok], q_mat[q_ok], q_norm[q_ok]
    q_mat = q_mat / q_norm[:, None]

    # id columns keep their input Spark types (string clip ids work too)
    q_id_type = dict((f.name, f.dataType) for f in queries.schema.fields)[query_id_col]
    v_id_type = dict((f.name, f.dataType) for f in df.schema.fields)[id_col]
    out_schema = T.StructType([
        T.StructField("query_id", q_id_type),
        T.StructField("vec_id", v_id_type),
        T.StructField("cos", T.DoubleType()),
    ])

    def score(batches):
        for b in batches:
            if not len(b):
                continue
            # poison-pill isolation (the sibling-kernel convention): a
            # NULL vector, a NULL element (numpy renders it NaN), or a
            # zero-norm vector has no defined cosine — those rows are
            # ABSENT from the result, never a NaN that Spark's desc
            # window would rank FIRST, and never a dead stage
            nn = b[vec_col].notna().to_numpy()
            if not nn.any():
                continue
            ids = b[id_col].to_numpy()[nn]
            mat = np.stack([np.asarray(v, dtype=np.float64)
                            for v in b[vec_col].to_numpy()[nn]])
            norms = np.linalg.norm(mat, axis=1)
            ok = np.isfinite(norms) & (norms > 0)
            if not ok.any():
                continue
            ids, mat, norms = ids[ok], mat[ok], norms[ok]
            mat = mat / norms[:, None]
            sims = mat @ q_mat.T  # (batch, |Q|)
            outs = []
            for qi in range(len(q_ids)):
                col = sims[:, qi]
                mask = ids != q_ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                top = cand_idx[np.lexsort((ids[cand_idx], -col[cand_idx]))][:k]
                outs.append(pd.DataFrame({
                    "query_id": q_ids[qi], "vec_id": ids[top], "cos": col[top]}))
            yield (pd.concat(outs) if outs
                   else pd.DataFrame({"query_id": [], "vec_id": [], "cos": []}))

    pruned = df.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        pruned.withColumn("__r__", F.row_number().over(w))
        .where(F.col("__r__") <= k)
        .select("query_id", "vec_id", "cos")
    )


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
    from pyspark.sql import types as T

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
    # zero-norm / NULL-element vectors have no defined cosine to ANY
    # cell (try_divide -> NULL): absent from the index, the shared
    # poison-pill rule (embedding_validate flags them upstream)
    scored = scored.where(F.col("__s__").isNotNull())
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
    pruning happens via the (query cell) semi-join."""
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
    impl: str = "expr",
) -> DataFrame:
    """(query_id, cell) for each query's n_probe nearest centroids.

    impl='expr' (default): the pure-Catalyst fold — bitwise identical to
    the DuckDB list_reduce oracle, which the ivf/near-dup-bucketed gates
    assert down to tie order. impl='arrow': one numpy matmul per Arrow
    batch against the (small, closure-shipped) centroid matrix — the
    100 TB path; ~100x faster on wide embeddings, ties still broken by
    ascending cell via a stable argsort over cell-sorted centroids, but
    float reassociation can flip exact-tie assignments vs the fold, so
    the oracle-parity gates keep 'expr'."""
    if impl == "arrow":
        return _assign_probe_cells_arrow(
            queries, centroids, n_probe, query_id_col, query_vec_col)
    c = F.broadcast(centroids.select(F.col("cell"), F.col("cvec").alias("__cv__")))
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv__"))
    scored = q.crossJoin(c).select(
        "query_id",
        "cell",
        F.try_divide(
            dot_expr(F.col("__qv__"), F.col("__cv__")),
            norm_expr(F.col("__qv__")) * norm_expr(F.col("__cv__"))).alias("__s__"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__s__").desc(), F.col("cell"))
    return (
        scored.withColumn("__r__", F.row_number().over(w))
        .where(F.col("__r__") <= n_probe)
        .select("query_id", "cell")
    )


def _assign_probe_cells_arrow(queries, centroids, n_probe, query_id_col,
                              query_vec_col) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    c_rows = sorted(centroids.select("cell", "cvec").collect(),
                    key=lambda r: r["cell"])  # cell-ascending: stable
    cells = np.array([r["cell"] for r in c_rows])  # any orderable cell type
    cmat = np.stack([np.asarray(r["cvec"], dtype=np.float64) for r in c_rows])
    cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cnorm[cnorm == 0.0] = 1.0
    cmat = cmat / cnorm
    take = min(n_probe, len(cells))

    id_type = dict((f.name, f.dataType) for f in queries.schema.fields)[query_id_col]
    cell_type = dict((f.name, f.dataType) for f in centroids.schema.fields)["cell"]
    schema = T.StructType([
        T.StructField("query_id", id_type),
        T.StructField("cell", cell_type),
    ])

    def gen(batches):
        for b in batches:
            if not len(b):
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in b[query_vec_col]])
            nrm = np.linalg.norm(mat, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0
            sims = (mat / nrm) @ cmat.T
            # stable argsort over cell-sorted columns -> ties by asc cell
            top = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame({
                "query_id": np.repeat(b[query_id_col].to_numpy(), take),
                "cell": cells[top].ravel(),
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
    impl: str = "arrow",
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
    - ASSIGN: centroids broadcast (k x dim, driver-sized); impl='arrow'
      scores one numpy matmul per Arrow batch — no shuffle, no window.
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
    import numpy as np

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
    X = np.stack([np.asarray(r["__v__"], dtype=np.float64) for r in sample])
    xn = np.linalg.norm(X, axis=1, keepdims=True)
    xn[xn == 0.0] = 1.0
    Xn = X / xn
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
    dim = cents.shape[1]
    for _ in range(n_iter):
        cdf = local_frame(
            spark, [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
            "cell int, cvec array<float>",
        )
        memb = assign_probe_cells(
            base.select(F.col("vec_id").alias("query_id"),
                        F.col("__v__").alias("query_vec")),
            cdf, n_probe=1, impl=impl,
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
    impl: str = "arrow",
) -> DataFrame:
    """Embedding-store validation: rows whose vector is NULL, has the
    wrong dimensionality, contains non-finite entries, or whose squared
    L2 norm falls outside [min_norm2_micro, max_norm2_micro] (norm2 as
    floor(sum(x^2) * 1e6) — the integer-micro convention the ANN oracles
    use). A normalized embedding store silently drifting off unit norm
    breaks every downstream cosine ranking; this is the cheap scan-time
    gate that catches it.

    Output: (id, dim, norm2_micro) for flagged rows; NULL/non-finite
    vectors carry dim 0 / norm2_micro NULL and are always flagged.

    impl='arrow' (production): one numpy pass per Arrow batch — finite
    check plus vectorized square-sum. impl='expr': zip-free native fold
    (same left-to-right double accumulation as DuckDB list_reduce,
    bit-reproducible — the oracle/determinism mode; no finite check,
    Catalyst-interpreted per element). Both are row-local: single pruned
    scan, no shuffle."""
    if impl == "expr":
        n2 = F.aggregate(
            F.transform(F.col(vec_col),
                        lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)
        base = df.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.size(F.col(vec_col)), F.lit(0)).alias("dim"),
            F.floor(n2 * 1e6).cast("long").alias("norm2_micro"))
    else:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        def score(batches):
            for b in batches:
                ids, dims, n2s = [], [], []
                for i, v in zip(b["id"], b["vec"]):
                    ids.append(i)
                    if v is None:
                        dims.append(0)
                        n2s.append(None)
                        continue
                    x = np.asarray(v, dtype=np.float64)
                    dims.append(int(x.size))
                    if not np.all(np.isfinite(x)):
                        n2s.append(None)
                    else:
                        n2s.append(int(np.floor(float(x @ x) * 1e6)))
                yield pd.DataFrame({"id": ids, "dim": dims,
                                    "norm2_micro": pd.array(n2s, dtype="Int64")})

        out_schema = T.StructType([
            T.StructField("id", df.schema[id_col].dataType),
            T.StructField("dim", T.IntegerType()),
            T.StructField("norm2_micro", T.LongType()),
        ])
        base = (df.select(F.col(id_col).alias("id"),
                          F.col(vec_col).alias("vec"))
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
    impl: str = "arrow",
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
    underneath has the same determinism contract as cosine_topk (arrow
    matmul vs fold agree on ranking for quantized corpora; impl='expr'
    is the bitwise mode).

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
                       query_vec_col=query_vec_col, k=k, impl=impl) \
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

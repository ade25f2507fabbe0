"""Distributed PCA over embedding columns — compression / whitening for
the similarity stack.

Engine extension (no reference analog — SURVEY.md §2.5). Shrinking
embeddings from dim d to k components cuts ANN scan bytes and
broadcast sizes by d/k with little recall loss; whitening equalizes
component variances so cosine stops being dominated by a few
high-variance axes.

Scale shape at 10^12 rows (the only one that works):
- PASS 1+2 fused: one ``mapInPandas`` emits, per PARTITION, the Gram
  matrix X^T X (d x d float64), the column sum, and the row count —
  three numbers per partition regardless of row count. The driver sums
  O(partitions) of these d x d blocks (d=64 -> 32 KB each), forms the
  covariance from Gram/sum/count, and runs numpy ``eigh`` on the d x d
  matrix. NO shuffle of vectors, no d x d per-ROW materialization — the
  accumulation happens inside the Arrow batches.
- APPLY: the k x d projection matrix broadcasts in the UDF closure; one
  numpy matmul per Arrow batch, the closure pattern of cosine_topk.

Determinism: eigh on the exact same covariance is deterministic; sign
convention fixed per component (largest-|loading| entry positive), so
the model is reproducible run-to-run. Across partitionings the
covariance sums reassociate (float), so components can differ by ~ulp —
pytest-verified (no SQL oracle; iterative/eigen float math), same
honesty rule as train_ivf_centroids.
"""

from __future__ import annotations

import typing

import numpy as np
from pyspark.sql import DataFrame, functions as F


class PCAModel(typing.NamedTuple):
    mean: np.ndarray        # (d,)
    components: np.ndarray  # (k, d) rows = principal axes
    variances: np.ndarray   # (k,) eigenvalues, descending
    n: int

    @property
    def explained_ratio(self) -> np.ndarray:
        tot = self.variances.sum()
        return self.variances / tot if tot > 0 else self.variances


def train_pca(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 16,
    tree_reduce_above: int = 64,
) -> PCAModel:
    """Fit PCA: one distributed pass accumulating per-partition
    (X^T X, sum, n), then a driver-side d x d eigendecomposition.

    Driver traffic is O(collected_rows * d^2). With many input
    partitions AND wide vectors that collect itself becomes the
    bottleneck (10k partitions x d=4096 ~ 1.3 TB), so when the input
    has more than ``tree_reduce_above`` partitions the partials go
    through ONE extra narrow combine level — repartition the
    O(parts) gram rows to ~sqrt(parts) groups and sum inside each —
    before collecting, turning driver traffic into O(sqrt(parts) *
    d^2). Float sums reassociate across the tree, same ~ulp caveat
    as the partitioning note above."""
    import math

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("gram", T.ArrayType(T.DoubleType())),
        T.StructField("colsum", T.ArrayType(T.DoubleType())),
        T.StructField("n", T.LongType()),
    ])

    def partial(batches):
        gram = None
        colsum = None
        n = 0
        dim = None
        for b in batches:
            if not len(b):
                continue
            # poison-pill isolation: one NULL or ragged-length embedding
            # must not kill the whole 10^12-row fit — skip such rows (the
            # embedding_validate gate FLAGS them; the fit ranges over
            # what validates)
            vecs = []
            for v in b["v"]:
                if v is None:
                    continue
                a = np.asarray(v, dtype=np.float64)
                if a.ndim != 1 or (dim is not None and a.size != dim):
                    continue
                if dim is None:
                    dim = a.size
                vecs.append(a)
            if not vecs:
                continue
            X = np.stack(vecs)
            g = X.T @ X
            s = X.sum(axis=0)
            gram = g if gram is None else gram + g
            colsum = s if colsum is None else colsum + s
            n += len(X)
        if n:
            yield pd.DataFrame({
                "gram": [gram.ravel().tolist()],
                "colsum": [colsum.tolist()],
                "n": [n],
            })

    def combine(batches):
        # second tree level: sum already-reduced (gram, colsum, n) rows
        gram = colsum = None
        n = 0
        for b in batches:
            for g, s, m in zip(b["gram"], b["colsum"], b["n"]):
                g = np.asarray(g, dtype=np.float64)
                s = np.asarray(s, dtype=np.float64)
                gram = g if gram is None else gram + g
                colsum = s if colsum is None else colsum + s
                n += int(m)
        if n:
            yield pd.DataFrame({
                "gram": [gram.tolist()],
                "colsum": [colsum.tolist()],
                "n": [n],
            })

    partials = df.select(F.col(vec_col).alias("v")).mapInPandas(partial, schema)
    n_parts = df.rdd.getNumPartitions()
    if n_parts > tree_reduce_above:
        groups = max(1, int(math.isqrt(n_parts)))
        partials = partials.repartition(groups).mapInPandas(combine, schema)
    parts = partials.collect()
    if not parts:
        raise ValueError("train_pca on an empty DataFrame")
    n = sum(p["n"] for p in parts)
    colsum = np.sum([np.asarray(p["colsum"]) for p in parts], axis=0)
    d = colsum.shape[0]
    gram = np.sum([np.asarray(p["gram"]).reshape(d, d) for p in parts], axis=0)
    mean = colsum / n
    cov = gram / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T          # (k, d)
    variances = np.maximum(evals[order], 0.0)
    # sign convention: largest-|loading| entry of each component positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return PCAModel(mean=mean, components=comps, variances=variances, n=int(n))


def apply_pca(
    df: DataFrame,
    model: PCAModel,
    *,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Project vectors onto the principal axes (optionally whitened to
    unit component variance): one numpy matmul per Arrow batch against
    the closure-shipped (k x d) matrix; output replaces nothing — a new
    ``array<float>`` column is appended."""
    import pandas as pd

    W = model.components
    if whiten:
        scale = np.sqrt(np.maximum(model.variances, 1e-12))
        W = W / scale[:, None]
    mean = model.mean
    cols = df.columns

    d = mean.size

    def project(batches):
        for b in batches:
            if not len(b):
                continue
            # NULL / wrong-dimension vectors project to NULL (a dead
            # stage would lose the whole job to one bad row; an absent
            # row would silently shrink the table under a withColumn
            # contract)
            ok = np.array([
                v is not None and np.asarray(v).ndim == 1
                and np.asarray(v).size == d
                for v in b[vec_col]])
            out = b.copy()
            res = [None] * len(b)
            if ok.any():
                X = np.stack([np.asarray(v, dtype=np.float64)
                              for v, k_ in zip(b[vec_col], ok) if k_])
                Y = (X - mean) @ W.T
                yi = iter(Y)
                res = [next(yi).astype(np.float32).tolist() if k_ else None
                       for k_ in ok]
            out[out_col] = pd.Series(res, index=b.index, dtype=object)
            yield out

    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))])
    return df.mapInPandas(project, out_schema).select(*cols, out_col)

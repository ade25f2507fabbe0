"""Candidate-bucket rules shared by the banded near-duplicate operators.

A banded similarity join puts rows into buckets on a key (an LSH band,
a signature chunk, a name block, a content digest), pairs the rows that
share a bucket and verifies the candidates. Three rules of that shape
live here, once, so a change to one (ROADMAP item 5's split of
oversized buckets instead of dropping them) is made in one place:

- the hot-key cap, :func:`hot_keys` and :func:`drop_hot_keys`. A bucket
  of n rows fans out n^2/2 pairs, so buckets holding more than ``cap``
  rows are dropped. The count is a groupBy-count (map-side combined)
  and the drop a broadcast LEFT ANTI join of the rare over-cap keys,
  never a count-over-window, which would funnel the hot bucket through
  one task: the skew the cap exists to prevent. Incremental operators
  count over the UNION of their sides, so a hot key goes from both. The
  oracles replay ``count > cap`` verbatim;
- signature chunking, :func:`bit_chunks`;
- the bucket self-join, :func:`bucket_pairs`.
"""

from __future__ import annotations

import functools
import typing

from pyspark.sql import Column, DataFrame, functions as F

Keys = typing.Union[str, typing.Sequence[str]]


def _key_list(keys: Keys) -> typing.List[str]:
    return [keys] if isinstance(keys, str) else list(keys)


def hot_keys(frames: typing.Sequence[DataFrame], keys: Keys, cap: int) -> DataFrame:
    """The ``keys`` values held by more than ``cap`` rows over the union
    of ``frames``: a groupBy-count of the key columns alone."""
    keys = _key_list(keys)
    union = functools.reduce(DataFrame.unionByName, [f.select(*keys) for f in frames])
    return (union.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n__"))
            .where(F.col("__n__") > cap)
            .select(*keys))


def drop_hot_keys(frames: typing.Sequence[DataFrame], keys: Keys,
                  cap: typing.Optional[int]) -> typing.List[DataFrame]:
    """``frames`` without the rows of their :func:`hot_keys`, each cut by
    a broadcast LEFT ANTI join on ``keys``; ``cap=None`` returns the
    frames themselves. A NULL key never matches the anti join, so its
    group always stays: right for the equi self-joins that follow here,
    where a NULL key never pairs either (sessions, whose NULL user is
    real traffic, joins NULL-safe on its own)."""
    if cap is None:
        return list(frames)
    hot = F.broadcast(hot_keys(frames, keys, cap))
    return [f.join(hot, _key_list(keys), "left_anti") for f in frames]


def bit_chunks(sig: Column, width: int, chunk_bits: int) -> Column:
    """The ``width // chunk_bits`` chunks of the low ``width`` bits of the
    integer signature ``sig``, lowest first, as an array to posexplode
    into (chunk_idx, chunk_val): chunk i is ``(sig >> i * chunk_bits) &
    (2^chunk_bits - 1)``. A ``chunk_bits`` that does not divide ``width``
    raises: it would silently drop the top bits from every chunk and void
    the Hamming-ball recall guarantee of the banding."""
    if chunk_bits < 1 or width % chunk_bits:
        raise ValueError("chunk_bits must divide {}".format(width))
    mask = (1 << chunk_bits) - 1
    return F.array(*[F.shiftright(sig, i * chunk_bits).bitwiseAND(F.lit(mask))
                     for i in range(width // chunk_bits)])


def bucket_pairs(frame: DataFrame, keys: Keys, id_col: str) -> DataFrame:
    """Distinct (id_a, id_b) with id_a < id_b of the rows of ``frame``
    that share all of ``keys``: the equi self-join on the bucket keys.

    The _gram_overlap trick (repartition the bucket frame by its keys
    once and cache it, so both join sides read one co-partitioned cache)
    was measured SLOWER on every self-join of this shape, because the
    bucket frame is a cheap projection of a small persisted frame and
    the extra repartition and cache cost more than the per-side replay
    they save: lsh_candidate_pairs 1.25 s -> 1.77 s, image_dup_pairs
    1.20 s -> 1.59 s, source_dup_matrix's digest self-join 1.36 s ->
    1.57 s and entity's blocked self-join 2.05 s -> 2.51 s (interleaved
    A/B). It pays only when each side replays an expensive subtree, the
    gram-index case. ROADMAP item 5 keeps the measured rule open."""
    keys = _key_list(keys)
    a = frame.select(*keys, F.col(id_col).alias("id_a"))
    b = frame.select(*keys, F.col(id_col).alias("id_b"))
    return (a.join(b, keys)
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct())

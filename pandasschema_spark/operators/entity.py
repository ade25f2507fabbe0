"""Entity resolution: blocking -> bounded edit-distance verify ->
connected components.

Engine extension for training-data / catalog pipelines (no reference
analog — SURVEY.md §2.5): collapse near-identical free-text entity
names ("Acme Corp." / "acme corp" / "Acme Cop") to one canonical
entity id. The same three-stage shape every record-linkage system at
scale uses:

1. **Blocking** — a cheap deterministic key (prefix of the normalized
   name) so only rows sharing a block ever meet. One shuffle on the
   block key; the all-pairs O(n^2) problem becomes sum of per-block
   squares. Hot blocks (empty names, boilerplate prefixes) are dropped
   by the repo's standard default-on cap — a groupBy-count + broadcast
   anti-join, never a count-over-window — so one degenerate block
   cannot melt a reducer at 10^12 rows; ``max_block=None`` restores
   exactness.
2. **Verify** — JVM ``levenshtein`` with Spark's bounded ``threshold``
   form (O(max_dist * len) per comparison, early-exit above the bound,
   whole-stage codegen; never a Python UDF), behind a row-local length
   pre-filter (``abs(len_a - len_b) <= max_dist`` is a necessary
   condition, so most in-block pairs never reach the DP).
3. **Transitive closure** — :func:`..graph.connected_components`
   (large-star/small-star, O(log n) rounds, eager localCheckpoint
   lineage cuts), then a left join back to the corpus so singletons
   resolve to themselves: every input row gets exactly one entity id.

The normalized/blocked frame is consumed by the hot-block count AND
both self-join sides, so :func:`blocked_pairs` persists it once
(MEMORY_AND_DISK) instead of re-scanning the corpus ~4x;
:func:`resolve_entities` unpersists it itself once the closure has
materialized.

Determinism: normalization, blocking, the levenshtein predicate and
min-id closure are pure functions of the data — the DuckDB oracle
replays all four stages verbatim (its ``levenshtein`` is the same
classic DP) and hashes identically.
"""

from __future__ import annotations

import typing

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..resources import hold
from .banding import drop_hot_keys
from .graph import connected_components

#: default hot-block cap, consistent with the dedup family's
#: DEFAULT_MAX_BUCKET: blocks bigger than this are dropped from pair
#: generation (a 10k-row block alone contributes ~50M comparisons).
DEFAULT_MAX_BLOCK = 10_000


def normalized_name_expr(col: Column) -> Column:
    """lower -> collapse every non-alphanumeric run to one space ->
    trim. Codegen-clean (regexp_replace, no higher-order functions)."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def _normalized_blocks(
    df: DataFrame, name_col: str, id_col: str, block_len: int
) -> DataFrame:
    # fail LOUD on non-integral ids: cast('long') of a UUID/string id
    # yields NULL for every row, so blocking would return a structurally
    # valid but completely wrong resolution with no error raised. The
    # whole family (pairs, CC cluster_id = min id, incremental splits)
    # is keyed on integral ordinals; map string ids to ordinals first
    # (with_file_ordered_row_index / zipWithIndex) before resolving.
    from pyspark.sql import types as T

    dt = df.schema[id_col].dataType
    integral = isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    # DECIMAL(p<=18, 0) ordinals (warehouse-migrated schemas) cast to
    # long exactly — accept them; wider or scaled decimals can silently
    # NULL/round under the cast, so they stay rejected.
    if isinstance(dt, T.DecimalType) and dt.scale == 0 and dt.precision <= 18:
        integral = True
    if not integral:
        raise ValueError(
            "entity resolution needs an integral id column; {!r} is {} — "
            "map string/uuid ids to ordinals first".format(id_col, dt.simpleString()))
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        normalized_name_expr(F.col(name_col)).alias("nm"),
    ).select("id", "nm", F.substring("nm", 1, block_len).alias("b"))


def blocked_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    *,
    block_len: int = 8,
    max_dist: int = 2,
    max_block: typing.Optional[int] = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """(id_a, id_b) with id_a < id_b: pairs whose normalized names share
    a ``block_len``-char prefix and sit within ``max_dist`` edits. The
    match-candidate stage on its own — feed a human review queue, or
    :func:`resolve_entities` for the full closure.

    Plan shape (locked by tests/test_plan_quality.py): an equi-join on
    the block key over ONE persisted blocked frame (shuffle/sort-merge —
    never a cartesian or broadcast-nested-loop), the hot-block cap as a
    broadcast LEFT ANTI, and the levenshtein verify as a post-join
    filter inside codegen.
    """
    pairs, blk = _blocked_pairs(df, name_col, id_col, block_len, max_dist, max_block)
    hold(blk)
    return pairs


def _blocked_pairs(df, name_col, id_col, block_len, max_dist, max_block):
    """:func:`blocked_pairs` plus its persisted blocked frame."""
    blk = _normalized_blocks(df, name_col, id_col, block_len).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    [blk_kept] = drop_hot_keys([blk], "b", max_block)
    # (no co-partition-and-cache: measured slower, see banding.bucket_pairs)
    a = blk_kept.select("b", F.col("id").alias("id_a"), F.col("nm").alias("nm_a"))
    bb = blk_kept.select("b", F.col("id").alias("id_b"), F.col("nm").alias("nm_b"))
    pairs = (
        a.join(bb, "b")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.length("nm_a") - F.length("nm_b")) <= max_dist)
            & (F.levenshtein("nm_a", "nm_b", max_dist) >= 0)
        )
        .select("id_a", "id_b")
    )
    return pairs, blk


def assign_entities(
    new_df: DataFrame,
    store_df: DataFrame,
    name_col: str,
    id_col: str,
    *,
    entity_col: str = "entity_id",
    block_len: int = 8,
    max_dist: int = 2,
    max_block: typing.Optional[int] = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Incremental entity resolution: assign each NEW row the minimum
    ``entity_col`` among store rows whose normalized names share its
    block and sit within ``max_dist`` edits; unmatched rows get their
    own id. ``store_df`` is the persisted (name, entity_id) dictionary
    a prior :func:`resolve_entities` run produced — yesterday's 10^12
    resolved rows cost nothing today beyond scanning that narrow
    store; only the new batch is blocked and verified. Within-batch
    linking is :func:`resolve_entities`' job over the new batch alone
    (same division of labor as the incremental LSH dedup).

    The hot-block cap counts over the UNION of both sides, so a
    boilerplate block is dropped from both — the capped configuration
    is the one the oracle replays. The small NEW side is persisted (it
    feeds the cap count, the join, and the final spine); the STORE side
    deliberately re-scans instead — at 10^12 rows a second pass over a
    pruned narrow column scan beats caching the whole dictionary.
    Scale shape: the store shuffles once on the block key (names only,
    never payloads); a small new batch is broadcast by AQE; the min-agg
    is map-side combinable.
    """
    nb = hold(_normalized_blocks(new_df, name_col, id_col, block_len).persist(
        StorageLevel.MEMORY_AND_DISK
    ))
    sb = store_df.select(
        normalized_name_expr(F.col(name_col)).alias("snm"),
        F.col(entity_col).cast("long").alias("entity_id"),
    ).select("snm", "entity_id", F.substring("snm", 1, block_len).alias("b"))
    nb_kept, sb_kept = drop_hot_keys([nb, sb], "b", max_block)
    matched = (
        nb_kept.join(sb_kept, "b")
        .where(
            (F.abs(F.length("nm") - F.length("snm")) <= max_dist)
            & (F.levenshtein("nm", "snm", max_dist) >= 0)
        )
        .groupBy("id")
        .agg(F.min("entity_id").alias("entity_id"))
    )
    return (
        nb.select("id")
        .join(matched, "id", "left")
        .select("id", F.coalesce("entity_id", F.col("id")).alias("entity_id"))
    )


def resolve_entities(
    df: DataFrame,
    name_col: str,
    id_col: str,
    *,
    block_len: int = 8,
    max_dist: int = 2,
    max_block: typing.Optional[int] = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """(id, entity_id) for EVERY input row: entity_id is the minimum id
    reachable through :func:`blocked_pairs` edges; singletons (and rows
    whose block was capped away) resolve to their own id. The pair
    stage's persist is released internally once the closure has
    materialized (connected_components is eager).

    Blocking recall is intentionally not 1.0 — an edit inside the
    prefix moves a row to a different block, exactly like production
    blocking keys; recall is raised by lowering ``block_len`` (more
    comparisons) not by widening the verify. The oracle replays the
    identical blocking so both engines miss the same pairs.
    """
    pairs, blk = _blocked_pairs(df, name_col, id_col, block_len, max_dist, max_block)
    # eager star rounds: the edge list is localCheckpointed inside, so
    # the blocked frame is no longer referenced afterwards. finally:
    # a non-convergence RuntimeError must not leak the blocked frame's
    # persist in a long-lived session.
    try:
        cc = connected_components(pairs, "id_a", "id_b")
    finally:
        blk.unpersist()
    return (
        df.select(F.col(id_col).cast("long").alias("id"))
        .join(cc, "id", "left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("entity_id"))
    )

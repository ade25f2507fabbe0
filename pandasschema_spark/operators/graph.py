"""Distributed connected components over duplicate-pair edge lists.

Dedup pair generators (exact digests, MinHash/LSH candidates, Jaccard
verification, acoustic fingerprints) emit PAIRS; a keep-one-per-group
policy needs CLUSTERS — the transitive closure of the pairs. A near-dup
chain A~B~C must collapse to one cluster even when A and C themselves
are below threshold, so this is a graph connectivity problem, not a
group-by.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014 — public
literature; no reference analog, SURVEY.md §2.5 extension). Each phase
is one groupBy + join over the edge list, and the edge set provably
converges to a star forest (every node points at its component's
minimum id) in O(log n) rounds — vs O(component diameter) for naive
min-label propagation, which melts on the long chains boilerplate
corpora produce. At 10^12-row scale each round shuffles only the
CURRENT edge list keyed by node id (map-side combinable min-agg +
same-key join), never node payloads; the loop is a driver-side
while-loop whose per-round actions are two scalar counts.

Determinism: the output (id, cluster_id=min id of the component) is a
pure function of the edge set, independent of partitioning or iteration
order — safe for cross-engine oracle hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..resources import hold


def _canon(edges: DataFrame) -> DataFrame:
    """Distinct (hi, lo) with hi > lo; drops self-loops and nulls."""
    return (
        edges.where(F.col("a").isNotNull() & F.col("b").isNotNull()
                    & (F.col("a") != F.col("b")))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). Every (hi, lo) edge is bidirected so each edge is
    re-emitted exactly once, via its smaller endpoint's neighborhood."""
    bi = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
    mins = bi.groupBy("u").agg(F.min("v").alias("nb_min"))
    m = mins.select("u", F.least("u", "nb_min").alias("m"))
    out = (
        bi.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )
    return _canon(out)


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over its smaller neighbors N(u) = {v < u}:
    m = min(N(u)); connect u and every v in N(u) to m."""
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    to_root = mins.select(F.col("a"), F.col("m").alias("b"))  # (u, m)
    nbrs = (
        edges.join(mins, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))  # (v, m)
    )
    return _canon(to_root.unionAll(nbrs))


def _is_star_forest(edges: DataFrame) -> bool:
    """ONE slim-shuffle job: is the canonical (hi, lo) edge set a star
    forest? True iff (1) every ``a`` value appears exactly once and
    (2) no value appears on both sides. Under the a > b canon that
    makes every component a star whose root ``b`` is the component
    minimum — exactly the shape the final extraction reads — and the
    star phases preserve connectivity, so a star forest IS the answer
    regardless of which round produced it (Kiveris et al.: star
    forests are the fixpoints of the alternation). Replaces the
    count + exceptAll equality test: detects convergence one round
    EARLIER (the old test needed a no-change round to observe
    equality) and lets already-star inputs (exact-dup (id, keep_id)
    pairs) skip the star rounds entirely."""
    sides = edges.select(F.col("a").alias("n"), F.lit(1).alias("ia")).unionAll(
        edges.select(F.col("b").alias("n"), F.lit(0).alias("ia")))
    bad = (
        sides.groupBy("n")
        .agg(F.sum("ia").alias("na"), F.count(F.lit(1)).alias("nt"))
        .where((F.col("na") > 1) | ((F.col("na") >= 1) & (F.col("nt") > F.col("na"))))
    )
    return bad.isEmpty()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_id) for every node in ``pairs``; cluster_id is the
    minimum id of the node's connected component. Nodes absent from the
    edge list (singletons) are not emitted — left-join the corpus and
    coalesce(cluster_id, id) to label them.

    Raises RuntimeError if the star rounds have not converged after
    ``max_iter`` alternations (log2 bound: 25 rounds covers any graph a
    33-million-node-deep pathology could produce; real dedup graphs
    converge in 2-4).

    Each round ends in an EAGER ``localCheckpoint``: every star phase
    references the previous edge set ~4 times, so without lineage
    truncation the logical plan grows 4^rounds and the driver melts
    analyzing it (persist alone does NOT cut the plan tree — the
    classic iterative-DataFrame trap). On a cluster with dynamic
    allocation use ``spark.sparkContext.setCheckpointDir`` + reliable
    ``checkpoint`` (or stage rounds to temp tables) instead —
    localCheckpoint blocks lost executors from recompute.

    Convergence is detected by :func:`_is_star_forest` on the current
    edge set (one slim-shuffle job per round) instead of an
    old-vs-new ``exceptAll`` diff: the star phases preserve
    connectivity and their fixpoints are exactly the star forests, so
    the first star-shaped edge set is the final one — no confirmation
    round, and star-shaped INPUTS (exact-dup pairs are (id, min id)
    stars by construction) run zero rounds."""
    edges = _canon(pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")))
    edges = hold(edges.localCheckpoint(eager=True))

    for i in range(max_iter + 1):
        if _is_star_forest(edges):
            break
        if i == max_iter:
            raise RuntimeError(
                "connected_components did not converge in {} rounds".format(max_iter))
        edges = hold(_small_star(_large_star(edges)).localCheckpoint(eager=True))

    # final edges are (node, root): root rows map to themselves. The
    # checkpointed edge set is already materialized, so these two
    # selects never recompute the iteration.
    return edges.select(F.col("a").alias("id"), F.col("b").alias("cluster_id")) \
        .unionAll(edges.select(F.col("b").alias("id"), F.col("b").alias("cluster_id"))) \
        .distinct()


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Keep-first dedup policy over pair output: (id, keep_id) for every
    non-minimum member of each connected duplicate cluster — the
    transitive-closure generalization of exact_duplicate_ids' star
    output (chains collapse to ONE keeper)."""
    cc = connected_components(pairs, id_a, id_b, max_iter=max_iter)
    return cc.where(F.col("id") != F.col("cluster_id")) \
        .select("id", F.col("cluster_id").alias("keep_id"))

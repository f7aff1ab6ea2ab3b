"""Deduplication operators (LLM-data-pipeline extensions; north-star
requirement — no reference counterpart, the reference's only dedup is
exact id-dedup, GetWeta.py:104-108 / J7 edge-dedup GetWeta.py:239-247).

Connected components over candidate duplicate pairs, shuffle-
disciplined for 100 TB: ``connected_components`` (iterative min-label
propagation) and ``connected_components_star`` (alternating large-star
/ small-star). The candidate pairs themselves come from the
oracle-checked plans in ``plans/dedup_plans.py`` (d1 exact
fingerprint, d2 banded MinHash LSH, d3 shingle Jaccard, d4 SimHash),
whose md5-derived hashes a cross-engine oracle can reproduce (md5 is
identical in Spark / DuckDB / Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------ connected components

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Collapse near-dup pairs into duplicate GROUPS: connected
    components by iterative min-label propagation.

    Each iteration is one distributed join + aggregate (label :=
    min(label of self, labels of neighbors)); convergence in
    O(component diameter) iterations — dup clusters are shallow in
    practice, and ``max_iter`` bounds the worst case. The driver loop
    only orchestrates; all data stays distributed (this is the
    GraphFrames-free pattern for iterative graph algorithms on
    DataFrames).

    Returns (id, component) where component = min id in the group.
    """
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .localCheckpoint()  # reused every iteration — materialize once
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
        )
        new_comp = F.least(
            F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                "id",
                new_comp.alias("component"),
                # change flag computed INSIDE the propagation projection
                # (old component is right here), so the convergence
                # probe below is a filter over the checkpoint — no
                # join of old vs new label tables
                (new_comp != F.col("component")).alias("_changed"),
            )
            # truncate lineage: without this each iteration replans the
            # whole history and the loop goes superlinear in wall-clock.
            # eager=False: the next probe/propagation materializes it
            # inside its own job, so no standalone checkpoint job runs
            # per round (measured 3.4 -> 2.6 s on d6 at sf0.1)
            .localCheckpoint(eager=False)
        )
        # convergence probe every 2nd round: the probe is its own Spark
        # job, and dup graphs converge in (diameter) rounds — probing
        # half as often trades at most one redundant propagation round
        # for half the probe jobs (measured ~9% off d6 at sf0.1)
        if it % 2 == 1 or it == max_iter - 1:
            changed = (
                new_labels.filter(F.col("_changed")).limit(1).count()
            )
            if changed == 0:
                labels = new_labels
                break
        labels = new_labels
    return labels.select("id", "component")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the huge-graph alternative to min-label propagation:
    converges in O(log n) rounds instead of O(diameter), and each
    round SHRINKS hub neighborhoods (large-star points every
    larger neighbor at the local minimum) instead of re-shuffling
    them, so heavy-hitter nodes get cheaper as iterations proceed.

    Same contract as ``connected_components``: returns (id, component)
    with component = min id of the group. Used when dup graphs are
    deep or hub-heavy; the pytest suite asserts equivalence with label
    propagation on randomized graphs.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    all_nodes = edges.select(F.col("u").alias("id")).distinct().localCheckpoint()

    for _ in range(max_iter):
        # large-star: every neighbor v > u is re-pointed at
        # m(u) = min(Γ(u) ∪ {u})
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient edges high→low, point every low neighbor
        # (and the high node itself) at the minimum
        dir_ = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins2 = dir_.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            dir_.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .union(mins2.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            # EAGER: the probe below references this frame twice and
            # the next round three more times — r13 measured the lazy
            # form duplicating the compute (+1.3 s on d6b)
            .localCheckpoint()
        )
        # converged when the edge set is a stable star forest.  ONE
        # symmetric-difference count job (r13) instead of two limit(1)
        # counts: both sides are distinct sets, the anti-join shuffles
        # dominate either way, and the fused form costs one driver
        # round-trip per round instead of three (probe+probe+eager
        # checkpoint).
        changed = (
            small.exceptAll(edges)
            .unionAll(edges.exceptAll(small))
            .count()
        )
        edges = small
        if changed == 0:
            break

    # after convergence every edge points a node at its component root
    labels = edges.groupBy(F.col("u").alias("id")).agg(
        F.min("v").alias("component")
    )
    return (
        all_nodes.join(labels, "id", "left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    )

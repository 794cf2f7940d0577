"""Canonicalization: connected components of the link graph.

Two paths, same result (every node labeled with the lexicographically
smallest member of its component, matching
kernels/canonical.connected_components):

- ``canonicalize``: the link graph is a star forest BY
  CONSTRUCTION — ``link_surfaces`` keeps exactly one top-1 entity per
  distinct surface (operators/linking.py row_number() == 1), so every
  component is one entity plus its linked surfaces (or a singleton
  surface). The closed form is ``canon_id = min(entity_key, min linked
  surface)``: ONE tiny groupBy on entity_key plus one join back — no
  driver loop, no localCheckpoints. This removed a ~3s fixed driver
  floor per run at sf0.1 (VERDICT r1 item 1b) and at 100 TB it is two
  shuffles on dim-sized keys instead of O(rounds) shuffle+checkpoint
  barriers.
- ``connected_components``: the general-graph path — iterative
  min-label propagation, bounded at O(diameter) rounds, localCheckpoint
  per round to cut lineage. Used for non-star edge sets (dedup
  clusters, graph components) and as the differential-test twin of the
  closed form.

Catalyst cannot express a loop (SURVEY.md §4), hence the driver
iteration in the general path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def links_to_edges(links: DataFrame) -> DataFrame:
    """links(norm_key, entity_key, ...) → undirected edge list (src, dst).
    Unlinked surfaces become singleton self-edges."""
    surface = F.concat(F.lit("surface:"), F.col("norm_key"))
    return links.select(
        surface.alias("src"),
        F.coalesce(F.col("entity_key"), surface).alias("dst"),
    )


def connected_components(edges: DataFrame, max_iterations: int = 25) -> DataFrame:
    """edges(src, dst) → (node_id, canon_id) with canon_id = min member."""
    spark = edges.sparkSession
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sym = sym.localCheckpoint()

    labels = (
        sym.select(F.col("src").alias("node_id"))
        .distinct()
        .withColumn("label", F.col("node_id"))
        .localCheckpoint()
    )

    changed = 1
    for _ in range(max_iterations):
        # propagate: every node also hears its neighbors' labels
        neighbor_labels = (
            sym.join(labels, sym["src"] == labels["node_id"])
            .select(F.col("dst").alias("node_id"), "label")
        )
        new_labels = (
            labels.select("node_id", "label")
            .unionByName(neighbor_labels)
            .groupBy("node_id")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint()

        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node_id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        if changed != 0:
            # a component with diameter > max_iterations would otherwise
            # return partially-propagated (wrong) labels — fail loud,
            # matching the repo's block-guard posture (ADVICE r2)
            raise RuntimeError(
                "connected_components: labels did not converge within "
                f"{max_iterations} iterations (a component's diameter "
                "exceeds the cap) — raise max_iterations"
            )

    return labels.select("node_id", F.col("label").alias("canon_id"))


def canonicalize(links: DataFrame) -> DataFrame:
    """Closed-form canonicalization of a links table, whose link graph
    is a star forest.

    Precondition (guaranteed by link_surfaces, runtime-guarded below):
    at most one row — hence at most one entity — per norm_key. Output
    rows cover exactly the nodes the iterative CC would label: every
    surface node and every linked entity node; identical output on star
    forests is pinned by a differential test against it.

    The result is localCheckpointed (like the iterative path does per
    round): downstream consumers broadcast this map twice
    (materialize_edges subj/obj resolve), and a cached-but-lazy plan
    containing a nested BroadcastExchange is NOT matched by the cache
    manager under those broadcast collects — measured 6.2s → 0.6s for
    the edges aggregate at sf0.01. At warehouse scale this
    materialization is the canonical-map table write.
    """
    from pyspark.sql import Window

    surface = F.concat(F.lit("surface:"), F.col("norm_key"))
    # In-plan precondition guard: a links table with >1 row per norm_key
    # is NOT a star forest and the closed form would silently mislabel —
    # fail loud at execution time instead (the iterative
    # connected_components is the correct path for such graphs). One
    # count window over the (small, distinct-surface-sized) links table.
    dup = F.count(F.lit(1)).over(Window.partitionBy("norm_key"))
    links = links.withColumn("_nk_rows", dup).where(
        F.when(
            F.col("_nk_rows") > 1,
            F.raise_error(
                F.concat(
                    F.lit(
                        "canonicalize: more than one link row for "
                        "norm_key (not a star forest) — use "
                        "connected_components(links_to_edges(links)); key="
                    ),
                    F.col("norm_key"),
                )
            ),
        ).otherwise(F.lit(True))
    ).drop("_nk_rows")
    linked = links.where(F.col("entity_key").isNotNull()).select(
        surface.alias("node_id"), "entity_key"
    )
    # per-entity component minimum: min over {entity_key} ∪ its surfaces
    emin = (
        linked.groupBy("entity_key")
        .agg(F.min("node_id").alias("min_surface"))
        .select(
            "entity_key",
            F.least(F.col("entity_key"), F.col("min_surface")).alias("canon_id"),
        )
    )
    ent_rows = emin.select(F.col("entity_key").alias("node_id"), "canon_id")
    # the entity-min map is dim-sized (distinct linked entities ≤ alias
    # dictionary size) → broadcast back onto the surface rows
    surf_rows = linked.join(F.broadcast(emin), "entity_key").select(
        "node_id", "canon_id"
    )
    singletons = links.where(F.col("entity_key").isNull()).select(
        surface.alias("node_id"), surface.alias("canon_id")
    )
    out = surf_rows.unionByName(ent_rows).unionByName(singletons)
    return out.localCheckpoint()

"""Reverse-reference indexes (SURVEY §1.4 DiffCache, §2.4 A2, §2.3 J8).

The reference maintains three LevelDB indexes so a changed node can trigger
rebuilding its ways/relations (cache/diff.go:18-24):
  node -> ways      (CoordsRefIndex)
  node -> relations (CoordsRelRefIndex)
  way  -> relations (WaysRefIndex)

In Spark these are plain normalized pair DataFrames derived from the element
state by explode — no point lookups, dependency resolution becomes semi
joins against the changed-id set. At scale they'd be persisted (Delta /
bucketed parquet keyed by the referenced id) and maintained incrementally;
here they're derived views over the current state, which is always correct
(never stale) and one explode+shuffle per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dependent_ways(
    ways: DataFrame, changed_node_ids: DataFrame, hint: bool = True
) -> DataFrame:
    """way ids referencing any changed node (J8). changed_node_ids: (id).

    Explodes refs WITHOUT the pair-level distinct: the semi join keeps at
    most one output row per (way, matching ref) and the final distinct on
    way ids dedupes — pre-deduping the full pair table would add a
    shuffle of the biggest intermediate for nothing."""
    refs = ways.select(F.explode("refs").alias("node_id"), F.col("id").alias("way_id"))
    # broadcast (hint=True, the blast-radius default): the changed set is
    # diff-batch bounded but arrives as a checkpointed RDD scan with NO
    # size statistics — unhinted, the planner sort-merge-joins, shuffling
    # the exploded ref index (the biggest intermediate in the frontier
    # walk) once per call. hint=False (round-10 ADVICE: batch size is
    # input-controlled) lets a catch-up batch degrade to that sort-merge
    # gracefully instead of forcing an over-limit broadcast.
    side = changed_node_ids.withColumnRenamed("id", "node_id")
    if hint:
        side = F.broadcast(side)
    return (
        refs.join(side, "node_id", "leftsemi")
        .select(F.col("way_id").alias("id"))
        .distinct()
    )


def dependent_relations(
    relations: DataFrame,
    changed_node_ids: DataFrame | None = None,
    changed_way_ids: DataFrame | None = None,
    hint: bool = True,
) -> DataFrame:
    """relation ids referencing any changed node or way. hint as in
    dependent_ways (count-gated by the replication runner)."""
    maybe_bcast = (lambda d: F.broadcast(d)) if hint else (lambda d: d)
    outs = []
    members = relations.select(
        F.col("id").alias("rel_id"), F.explode("members").alias("m")
    )
    if changed_node_ids is not None:
        nr = members.filter(F.col("m.type") == 0).select(
            F.col("m.id").alias("node_id"), "rel_id"
        )
        outs.append(
            nr.join(
                maybe_bcast(changed_node_ids.withColumnRenamed("id", "node_id")),
                "node_id",
                "leftsemi",
            ).select(F.col("rel_id").alias("id"))
        )
    if changed_way_ids is not None:
        wr = members.filter(F.col("m.type") == 1).select(
            F.col("m.id").alias("way_id"), "rel_id"
        )
        outs.append(
            wr.join(
                maybe_bcast(changed_way_ids.withColumnRenamed("id", "way_id")),
                "way_id",
                "leftsemi",
            ).select(F.col("rel_id").alias("id"))
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.distinct()

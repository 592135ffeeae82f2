"""Reference-resolution joins (SURVEY §2.3 J1-J4).

The reference resolves way refs and relation members with LevelDB point
lookups (cache/delta.go:162-198 FillWay, cache/ways.go:99-114 FillMembers).
In Spark these are bulk equi-joins:

  J1  posexplode(refs) ⋈ coords on node id → regroup ordered by position
  J2  explode(members) where type=1 ⟕ ways on way id (for refs)
  J3  J1 applied once to the DISTINCT member ways, left-joined back
  J4  explode(members) ⋈ nodes/coords/relations for relation_member rows

Completeness semantics are inner-ish: ANY missing ref drops the whole way
(FillWay returns NotFound → writer skips); any missing member way drops the
whole relation (writer/relations.go:80-99). J2 and J3 run as one pass
(ImportPipeline.relation_tables): the outer joins leave one member-way
frame whose coords are NULL exactly where the way is missing or has an
unresolvable ref, and every completeness decision reads that frame.

Scale notes: the exploded ref table is the biggest shuffle of the whole
import (≈ #node-refs rows ~ 8x #nodes on a planet file). We shuffle only
(way_id, pos, ref) + the coord payload — tags and the rest of the way row
are joined back AFTER the aggregation, so shuffled bytes stay minimal.
Mega-ways/relations create skew; AQE skew-join handles it (enabled in
session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_way_coords(
    ways: DataFrame,
    coords: DataFrame,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """J1: attach `coords ARRAY<STRUCT<x,y>>` to each way, position-ordered.

    `coords` must have columns (id, x, y) — already projected to the target
    SRID. Ways with any unresolved ref are dropped (cache/delta.go:185-190).

    Each way id must appear on exactly one input row (callers pass a ways
    table or its distinct ids), so no dedup shuffle is needed; when no
    extra columns need re-attaching the result is the aggregation output
    directly (saves the join-back shuffle of the full ways table).
    """
    keep_cols = keep_cols if keep_cols is not None else [c for c in ways.columns if c != "refs"]
    exploded = ways.select("id", F.posexplode("refs").alias("pos", "ref"))
    joined = exploded.join(
        coords.select(F.col("id").alias("ref"), "x", "y"), on="ref", how="left"
    )
    agg = joined.groupBy("id").agg(
        F.count("*").alias("_n_refs"),
        F.count("x").alias("_n_resolved"),
        F.array_sort(
            F.collect_list(F.struct("pos", F.struct("x", "y").alias("c")))
        ).alias("_pts"),
    )
    complete = agg.filter(F.col("_n_refs") == F.col("_n_resolved")).select(
        "id", F.transform("_pts", lambda p: p["c"]).alias("coords")
    )
    if not [c for c in keep_cols if c != "id"]:
        return complete
    return ways.select("id", *[c for c in keep_cols if c != "id"]).join(complete, on="id", how="inner")

"""Incremental update: apply OsmChange batches to element state + output
tables (SURVEY §2.8 T1-T8; reference: update/process.go:23-317).

Semantics ported:
- last-write-wins per element id within a batch (T1)
- delete-before-insert: every changed element's rows are removed from all
  output tables before rebuilt rows are inserted (T2, update/deleter.go)
- cascading invalidation: a changed node rebuilds referencing ways and
  relations; a changed way rebuilds referencing relations — both the
  previous and the new geometry owners are refreshed (T3,
  update/process.go:220-259); the new owners are either old owners or
  changed elements themselves, so the walk reads the OLD state only
- the rebuild reuses the exact import pipeline on the affected subset (T5)

Spark shape: a batch is pure DataFrame algebra — anti-join + union for
state, semi-joins for the frontier, the ImportPipeline for rebuild.
diff/runner.apply_change_rows wraps it into the one batch step (pins,
expiry, gen refresh) that the replication runner, the streaming
foreachBatch and `imposm3_spark diff` call; state tables would be
Delta/parquet at scale (here: in-memory DataFrames, localCheckpointed per
batch).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from imposm3_spark import elements as el
from imposm3_spark.datapipe.text import eval_once
from imposm3_spark.diff import refindex as ri
from imposm3_spark.expire.tiles import TileExpireList
from imposm3_spark.pipeline.engine import ImportPipeline, _union_all


@dataclass
class OsmState:
    """Current element snapshot (the Spark analog of OSMCache)."""

    nodes: DataFrame
    ways: DataFrame
    relations: DataFrame


def latest_changes(changes: DataFrame) -> DataFrame:
    """T1: the last change per element (last-write-wins within the batch),
    one window over (kind, id). Every (kind, id) appears once, so the id
    sets selected from it need no distinct."""
    eid = F.coalesce(F.col("node.id"), F.col("way.id"), F.col("relation.id"))
    w = Window.partitionBy("kind", eid).orderBy(F.desc("pos"))
    return changes.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _changed_ids(latest: DataFrame, kind: str) -> DataFrame:
    return latest.filter(F.col("kind") == kind).select(F.col(kind)["id"].alias("id"))


def _bounded(replaced: DataFrame, union: DataFrame) -> DataFrame:
    """``union`` (a kept ∪ rebuilt frame that replaces ``replaced``)
    coalesced to ``replaced``'s partition count. A broadcast anti join
    keeps its streamed side's partitioning, so without this every batch
    adds the rebuilt side's partitions and, after a day of minutely
    batches, every pin runs thousands of tasks. The coalesce is narrow (no
    job); ``replaced`` is a pinned frame or a plain scan in every batch
    caller, so reading its partition count runs no job either (on a frame
    with an exchange it would run that frame's stages)."""
    return union.coalesce(replaced.rdd.getNumPartitions())


def upsert_state(state: OsmState, latest: DataFrame, hint: bool = True) -> OsmState:
    """New element snapshot after the batch (T4) from ``latest_changes``.

    hint=True broadcasts the changed ids into the anti join (they are
    bounded by the batch size); unhinted the join sort-merges, i.e.
    shuffles the entire state per batch. The replication runner drops the
    hint for a catch-up-sized batch."""

    def upd(df: DataFrame, kind: str) -> DataFrame:
        changed_ids = _changed_ids(latest, kind)
        kept = df.join(F.broadcast(changed_ids) if hint else changed_ids, "id", "left_anti")
        upserts = latest.filter(
            (F.col("kind") == kind) & (F.col("op") != "delete")
        ).select(f"{kind}.*")
        # allowMissingColumns: pre-metadata state DataFrames (or fixture
        # frames built without the optional metadata struct) upsert cleanly
        return _bounded(df, kept.unionByName(upserts, allowMissingColumns=True))

    return OsmState(
        nodes=upd(state.nodes, "node"),
        ways=upd(state.ways, "way"),
        relations=upd(state.relations, "relation"),
    )


def apply_changes_to_state(state: OsmState, changes: DataFrame) -> OsmState:
    """New element snapshot after the batch (T4)."""
    return upsert_state(state, latest_changes(changes))


@dataclass
class Frontier:
    """Element ids whose output rows must be rebuilt."""

    node_ids: DataFrame  # (id)
    way_ids: DataFrame
    rel_ids: DataFrame


def frontier_from_latest(
    state: OsmState, latest: DataFrame, pin: bool = False, hint: bool = True
) -> Frontier:
    """T3: changed ids + transitive dependents (2 hops max: node->way->rel),
    walked over the OLD state only.

    The old index catches ways/relations that referenced a now-deleted or
    moved element. The new state needs no walk of its own: its ways are the
    old ways minus the changed ones plus the upserted (changed) ones, so a
    new-state way referencing a changed node is either an old way with the
    same refs or a changed way, already in the frontier; the same holds for
    relations. So the frontier does not wait for the new state's pins.

    pin=True localCheckpoints the way and relation id sets (tiny — bounded
    by the batch's blast radius; the node ids are a filter of ``latest``,
    which the caller pins). Everything downstream of a batch references the
    frontier MANY times (3 rebuild semi-joins, ~7 delete anti-joins, 6
    expiry branches), and Spark re-executes a shared subtree once per
    referencing branch — unpinned, each reference re-pays the full
    reverse-reference scan of the state. Round-10 benchdiff measured the
    unpinned chain at ~10x the pinned wall on a 32-replica Monaco state.
    The way hop is pinned BEFORE the relation hop consumes it, so that hop
    scans the state once against a materialized way frontier."""
    changed_nodes = _changed_ids(latest, "node")
    dep_ways = ri.dependent_ways(state.ways, changed_nodes, hint=hint)
    way_frontier = _changed_ids(latest, "way").unionByName(dep_ways).distinct()
    if pin:
        way_frontier = way_frontier.localCheckpoint()
    dep_rels = ri.dependent_relations(state.relations, changed_nodes, way_frontier, hint=hint)
    rel_frontier = _changed_ids(latest, "relation").unionByName(dep_rels).distinct()
    if pin:
        rel_frontier = rel_frontier.localCheckpoint()
    return Frontier(node_ids=changed_nodes, way_ids=way_frontier, rel_ids=rel_frontier)


def compute_frontier(
    state: OsmState,
    new_state: OsmState,
    changes: DataFrame,
    pin: bool = False,
    hint: bool = True,
) -> Frontier:
    """T3 frontier of ``changes`` (see frontier_from_latest). ``new_state``
    is not read: the old-state walk already covers it. pin=True also pins
    the latest change set the node ids are read from."""
    latest = latest_changes(changes)
    return frontier_from_latest(state, latest.localCheckpoint() if pin else latest, pin, hint)


def pin_state_and_frontier(
    state: OsmState, changes: DataFrame, hint: bool = True
) -> tuple[OsmState, Frontier]:
    """The batch's pinned new state and frontier: the latest change set is
    pinned once (one job), then the three state pins and the frontier walk
    (which reads only the old state) run concurrently — four small
    independent job chains instead of a serial chain of them.

    Pinning both first matters: every downstream consumer (rebuild
    semi-joins, delete anti-joins, expiry branches, gen refresh) references
    them several times, and Spark re-executes an unpinned subtree once per
    referencing branch."""
    latest = latest_changes(changes).localCheckpoint()
    new_state = upsert_state(state, latest, hint=hint)
    with ThreadPoolExecutor(max_workers=4) as pool:
        pins = [pool.submit(df.localCheckpoint) for df in vars(new_state).values()]
        frontier = pool.submit(frontier_from_latest, state, latest, True, hint)
        return OsmState(*(f.result() for f in pins)), frontier.result()


def affected_osm_ids(pipe: ImportPipeline, frontier: Frontier) -> dict[str, DataFrame]:
    """osm_id sets to DELETE per table type, with the writers' id mangling
    (T2; update/deleter.go deletes by id from every possibly-matching
    table)."""
    single = pipe.mapping.single_id_space
    node_ids = frontier.node_ids.select(el.node_osm_id(F.col("id")).alias("osm_id"))
    way_ids = frontier.way_ids.select(el.way_osm_id(F.col("id"), single).alias("osm_id"))
    rel_ids = frontier.rel_ids.select(el.relation_osm_id(F.col("id"), single).alias("osm_id"))
    return {
        "point": node_ids,
        "linestring": way_ids,
        "polygon": way_ids.unionByName(rel_ids),
        "geometry": node_ids.unionByName(way_ids).unionByName(rel_ids),
        "relation": rel_ids,
        "relation_member": rel_ids,
    }


def rebuild_tables(
    pipe: ImportPipeline,
    new_state: OsmState,
    frontier: Frontier,
    hint: bool = True,
) -> dict[str, DataFrame]:
    """T5: run the import pipeline on the frontier subset. Coordinates and
    member elements resolve against the full new state (a moved node must
    pull its way's other, unchanged nodes) — but only the REACHABLE
    CLOSURE of the frontier is ever read, so the state tables are pruned
    to it first with broadcast semi joins (one scan each, no exchange).
    Unpruned, the pipeline's resolve joins sort-merge — i.e. shuffle the
    ENTIRE coord/way tables per batch, which at planet scale turns a
    500-element diff into a full-data shuffle.

    Closure: frontier rels -> their way/node members; (frontier ∪ member)
    ways -> their refs. All broadcast sets are blast-radius-bounded (a
    batch's elements × mean way length). Only the rels, needed ways and
    needed nodes are pinned: each id set is read once, as the broadcast
    side of the next semi join, which ignores duplicate keys, so the sets
    are neither deduplicated nor pinned."""
    # explicit broadcast: frontier.rel_ids is a checkpointed RDD scan with
    # no size statistics, so the planner fell back to SortMergeJoin and
    # shuffled the ENTIRE relations state (with its members arrays) per
    # batch — round-10 probe caught it; the id set is blast-radius-sized
    # like every other frontier side here
    # hint=False (count-gated by the runner, round-10 ADVICE): a catch-up
    # batch's frontier can exceed broadcastable size — the unhinted joins
    # degrade to sort-merge gracefully instead of OOMing the driver.
    maybe_bcast = (lambda d: F.broadcast(d)) if hint else (lambda d: d)
    rels = new_state.relations.join(
        maybe_bcast(frontier.rel_ids), "id", "leftsemi"
    ).localCheckpoint()

    member_way_ids = (
        rels.select(F.explode("members").alias("m"))
        .filter(F.col("m.type") == 1)
        .select(F.col("m.id").alias("id"))
    )
    way_ids = frontier.way_ids.unionByName(member_way_ids)
    needed_ways = new_state.ways.join(
        maybe_bcast(way_ids), "id", "leftsemi"
    ).localCheckpoint()
    ways = needed_ways.join(maybe_bcast(frontier.way_ids), "id", "leftsemi")

    member_node_ids = (
        rels.select(F.explode("members").alias("m"))
        .filter(F.col("m.type") == 0)
        .select(F.col("m.id").alias("id"))
    )
    ref_ids = (
        needed_ways.select(F.explode("refs").alias("id"))
        .unionByName(member_node_ids)
        .unionByName(frontier.node_ids)
    )
    needed_nodes = new_state.nodes.join(
        maybe_bcast(ref_ids), "id", "leftsemi"
    ).localCheckpoint()
    nodes = needed_nodes.join(maybe_bcast(frontier.node_ids), "id", "leftsemi")

    # concurrent builder construction (build_tables): a probe at 32
    # replicas/500 changes measured the parts wall 12-16 s serial vs ~10 s
    # threaded
    return pipe.build_tables(
        rels, ways, nodes, pipe.prepare_coords(needed_nodes),
        member_ways=needed_ways, member_nodes=needed_nodes,
    )


def _resolve_latlon(ways: DataFrame, nodes: DataFrame, keep_cols: list[str]) -> DataFrame:
    """Attach lon/lat coord arrays to ways, position-ordered. Unresolvable
    refs become (0,0) placeholder nodes — the tile expiry skips them,
    exactly like the reference's partially-filled ways (tilelist.go
    skip-empty-node checks).

    Join shape: `ways` is a diff-batch blast radius (small); `nodes` is
    the FULL element state. A direct left join would sort-merge — i.e.
    shuffle the entire node table per call (4 calls per batch). Instead
    the node side is pruned with a broadcast semi join on the referenced
    ids (one scan of state, no exchange), and the pruned set — bounded by
    the frontier ways' total ref count — broadcasts into the outer join.
    `ways` is pinned on entry: it is referenced three times below (the
    explode, the ref-id prune, the final join), and its upstream subtree
    (frontier semi join + the giant match predicates, which Catalyst
    pushes below the join onto the full way table) must execute once, not
    per reference."""
    # LAZY pin: all three references below land inside the caller's single
    # expiry-union action, so a lazy checkpoint keeps the compute-once
    # semantics without a dedicated scheduler job per call (4 calls per
    # diff batch). Warm in-JVM alternating A/B, 3 rounds at 32 Monaco
    # replicas: lazy won every round, wall medians 85.5 s vs 96.9 s for
    # 2x500-change batches (round-10).
    ways = ways.localCheckpoint(eager=False)
    ex = ways.select("id", "refs").dropDuplicates(["id"]).select(
        "id", F.posexplode("refs").alias("pos", "ref")
    )
    ref_ids = ex.select(F.col("ref").alias("id")).distinct()
    needed = nodes.join(F.broadcast(ref_ids), "id", "leftsemi")
    j = ex.join(
        F.broadcast(needed.select(F.col("id").alias("ref"), "lon", "lat")), "ref", "left"
    )
    agg = j.groupBy("id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "pos",
                    F.struct(
                        F.coalesce("lon", F.lit(0.0)).alias("lon"),
                        F.coalesce("lat", F.lit(0.0)).alias("lat"),
                    ).alias("c"),
                )
            )
        ).alias("_pts")
    )
    resolved = agg.select("id", F.transform("_pts", lambda p: p["c"]).alias("coords"))
    return ways.select("id", *[c for c in keep_cols if c != "id"]).join(
        resolved, "id", "inner"
    )


def _match_after_prune(df: DataFrame, cond) -> DataFrame:
    """Filter ``df`` by the (expensive) mapping-match predicate WITHOUT
    letting Catalyst push it below the frontier semi join.

    The expiry branches prune the full element state to the batch's blast
    radius with a broadcast LEFT SEMI join (620k rows -> ~2k at the bench
    state), then filter by the mapping match expression — a tree holding
    every unit's match + table filter. Pushed below the join (the default
    for a deterministic filter), that tree evaluates over the ENTIRE
    state per branch per batch: round-10 probe measured the four
    _resolve_latlon constructions at 11-14 s/batch, almost all of it
    full-table match evaluation. The eval_once guard bars the
    substitution, so the semi join runs first and the match tree touches
    only blast-radius rows."""
    flag = "_match_keep"
    return df.withColumn(flag, eval_once(cond)).filter(F.col(flag)).drop(flag)


def _any_match(pipe: ImportPipeline, units, tags, closed, relation: bool):
    from imposm3_spark.mapping.matcher import table_filter_expr

    cond = F.lit(False)
    for u in units:
        m = u.match_expr(tags)
        f = table_filter_expr(pipe.mapping, u.table, tags, m["key"], closed, relation=relation)
        cond = cond | (m.isNotNull() & f)
    return cond


def expired_tile_list(
    pipe: ImportPipeline,
    state: OsmState,
    new_state: OsmState,
    frontier: Frontier,
    max_zoom: int = 14,
    hint: bool = True,
) -> TileExpireList:
    """T7: z/x/y tiles touched by the batch — both the OLD geometries (the
    deleter expires rows it removes, update/deleter.go:136-238) and the
    NEW ones (writers expire inserted rows). Expiry is MATCH-AWARE: only
    elements whose tags match the mapping on that side expire — a node
    modified to an unmapped tag expires its old location but not its new
    one (test/expire_tiles_test.go:100-104).

    - matched nodes expire as padded points
    - matched ways as line walks; closed geometry (polygon match) as bbox
      fills with the <64/<500 zoom cascade
    - matched relations expire every way member's node run; the deleter
      side uses closed=polygon-matched (deleter.go:153), the writer side
      closed=true (writer/relations.go:127-131)

    The touched geometries (blast-radius-sized: ~900 for a 500-change
    batch) are collected in one action and tiled on the driver into a
    TileExpireList; `flush` writes the file sink (S14). Tiling them in a
    pandas UDF with an explode + distinct took ~8x longer for the same
    tiles: the Python worker round trip dominates at this size."""
    from imposm3_spark.mapping.matcher import tag_prefilter_expr

    # The match/prefilter Column trees are LARGE (every unit's match +
    # filter expression) and side-independent — build them once per
    # ImportPipeline (the engine's `_expr` cache) and reuse across sides
    # AND batches. Column objects are unresolved expressions, freely
    # reusable across DataFrames; rebuilding them per call cost ~10 s of
    # py4j round-trips per batch.
    def build() -> dict[str, Column]:
        closed = (F.size("refs") >= 4) & (
            F.try_element_at("refs", F.lit(1)) == F.try_element_at("refs", F.lit(-1))
        )
        area_tag = F.coalesce(F.col("tags").getItem("area"), F.lit(""))
        as_line = ~(closed & (area_tag == "yes"))
        as_poly = closed & (area_tag != "no")
        return {
            "node_prefilter": tag_prefilter_expr(pipe.mapping, "node", F.col("tags")),
            "way_prefilter": tag_prefilter_expr(pipe.mapping, "way", F.col("tags")),
            "rel_prefilter": tag_prefilter_expr(
                pipe.mapping, "relation", F.col("tags")
            ),
            "node_m": _any_match(
                pipe, pipe.point_units, F.col("tags"), F.lit(False), relation=False
            ),
            "line_m": as_line
            & _any_match(pipe, pipe.line_units, F.col("tags"), closed, relation=False),
            "poly_m": as_poly
            & _any_match(
                pipe, pipe.polygon_units, F.col("tags"), closed, relation=False
            ),
            "rpoly_m": _any_match(
                pipe, pipe.polygon_units, F.col("tags"), F.lit(True), relation=True
            ),
            "rother_m": _any_match(
                pipe,
                pipe.relation_units + pipe.relation_member_units,
                F.col("tags"),
                F.lit(True),
                relation=True,
            ),
        }

    exprs = pipe._expr(("expire",), build)

    # hint=False (count-gated by the runner, round-10 ADVICE): catch-up
    # batches degrade to sort-merge instead of forcing a broadcast
    maybe_bcast = (lambda d: F.broadcast(d)) if hint else (lambda d: d)
    parts = []
    for st, is_new in ((state, False), (new_state, True)):
        all_nodes = st.nodes.select("id", "lon", "lat")

        # Pin discipline: the way sets are pinned inside _resolve_latlon
        # (multiply-referenced there); nodes/relations are consumed
        # exactly once each, and the geoms union at the end is collected
        # in one action — pinning them here would only add a job of fixed
        # overhead per branch.

        # nodes (deleter.go:206-238; writer/nodes.go:91-92)
        nd = (
            st.nodes.join(maybe_bcast(frontier.node_ids), "id", "leftsemi")
            .filter(F.size("tags") > 0)
            .withColumn("tags", exprs["node_prefilter"])
        )
        nd = _match_after_prune(nd, exprs["node_m"])
        parts.append(
            nd.select(
                F.array(F.struct(F.col("lon"), F.col("lat"))).alias("coords"),
                F.lit(False).alias("closed"),
            )
        )

        # ways (deleter.go:159-204; writer/ways.go:122-123) — pinned
        # inside _resolve_latlon
        wy = (
            st.ways.join(maybe_bcast(frontier.way_ids), "id", "leftsemi")
            .filter(F.size("tags") > 0)
            .withColumn("tags", exprs["way_prefilter"])
        )
        # guarded (eval_once): keeps the match evaluation above the
        # frontier semi join — see _match_after_prune
        wy = wy.withColumns(
            {
                "_line_m": eval_once(exprs["line_m"]),
                "_poly_m": eval_once(exprs["poly_m"]),
            }
        ).filter(F.col("_line_m") | F.col("_poly_m"))
        parts.append(
            _resolve_latlon(wy, all_nodes, keep_cols=["_poly_m"]).select(
                "coords", F.col("_poly_m").alias("closed")
            )
        )

        # relations: every way member's node run (deleter.go:136-155;
        # writer/relations.go:127-131)
        rl = (
            st.relations.join(maybe_bcast(frontier.rel_ids), "id", "leftsemi")
            .filter(F.size("tags") > 0)
            .withColumn("tags", exprs["rel_prefilter"])
        )
        rl = rl.withColumn("_poly_m", eval_once(exprs["rpoly_m"])).filter(
            # the disjunction references the guarded _poly_m, so the whole
            # predicate (incl. the relation-match tree) stays above the
            # frontier semi join
            F.col("_poly_m") | exprs["rother_m"]
        )
        # member side is blast-radius-sized — broadcast it so the full
        # way table scans once without an exchange
        members = (
            rl.select("_poly_m", F.explode("members").alias("m"))
            .filter(F.col("m.type") == 1)
            .select(F.col("m.id").alias("way_id"), "_poly_m")
        )
        member_ways = (
            st.ways.select(F.col("id").alias("way_id"), "refs")
            .join(F.broadcast(members), "way_id", "inner")
            .select(F.col("way_id").alias("id"), "refs", "_poly_m")
        )
        rel_closed = F.lit(True) if is_new else F.col("_poly_m")
        parts.append(
            _resolve_latlon(member_ways, all_nodes, keep_cols=["_poly_m"]).select(
                "coords", rel_closed.alias("closed")
            )
        )

    tiles = TileExpireList(max_zoom=max_zoom)
    for row in _union_all(parts).collect():
        tiles.expire_nodes([(c[0], c[1]) for c in row["coords"] or ()], bool(row["closed"]))
    return tiles


def expired_tiles_for_batch(
    pipe: ImportPipeline,
    state: OsmState,
    new_state: OsmState,
    frontier: Frontier,
    max_zoom: int = 14,
    hint: bool = True,
) -> DataFrame:
    """expired_tile_list's DISTINCT (z, x, y) tiles as a local DataFrame."""
    tiles = expired_tile_list(pipe, state, new_state, frontier, max_zoom, hint)
    return state.nodes.sparkSession.createDataFrame(
        sorted(tiles.as_set()), "z int, x int, y int"
    )


def apply_batch(
    pipe: ImportPipeline,
    state: OsmState,
    tables: dict[str, DataFrame],
    changes: DataFrame,
    with_affected: bool = False,
    new_state: OsmState | None = None,
    frontier: Frontier | None = None,
    hint: bool = True,
):
    """One diff batch end-to-end: state upsert, frontier, delete+rebuild.

    Returns (new_state, new_tables); with_affected=True additionally
    returns the per-table-type affected osm_id sets, which feed the
    per-id generalized-table refresh (generalize.refresh_generalized_
    tables) — call that AFTER materializing new_tables (checkpoint /
    sink write), otherwise the gen lineage re-executes the whole rebuild
    per gen table.

    The delete+insert pair per table is exactly the reference's sync-tx
    mode (database/postgis/tx.go:116-199); against a real PostGIS sink
    this maps to DELETE WHERE osm_id IN (...) followed by batched INSERTs
    inside one transaction (see sinks/postgis.py)."""
    if new_state is None:
        new_state = apply_changes_to_state(state, changes)
    if frontier is None:
        # pinned by default: the frontier is referenced by the 3 rebuild
        # semi-joins AND every table's delete anti-join below — unpinned,
        # each reference re-executes the reverse-reference scans (see
        # frontier_from_latest docstring). Callers that already hold a
        # pinned frontier (diff/runner, streaming/replication) pass it in
        # so the batch computes it exactly once.
        frontier = compute_frontier(state, new_state, changes, pin=True, hint=hint)
    rebuilt = rebuild_tables(pipe, new_state, frontier, hint=hint)
    delete_ids = affected_osm_ids(pipe, frontier)

    new_tables: dict[str, DataFrame] = {}
    for name, df in tables.items():
        table_type = pipe.mapping.tables[name].type
        dels = delete_ids.get(table_type)
        # broadcast: dels is the frontier's mangled-id set (blast-radius
        # bounded) read from checkpointed RDDs with no stats — unhinted,
        # the anti join sort-merges, i.e. shuffles the ENTIRE output table
        # per batch (round-10 probe class; guide §3.1)
        kept = (
            df.join(F.broadcast(dels) if hint else dels, "osm_id", "left_anti")
            if dels is not None
            else df
        )
        if name in rebuilt:
            kept = _bounded(df, kept.unionByName(rebuilt[name]))
        new_tables[name] = kept
    for name, df in rebuilt.items():
        if name not in new_tables:
            new_tables[name] = df
    if with_affected:
        return new_state, new_tables, delete_ids
    return new_state, new_tables

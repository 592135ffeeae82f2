"""osm_city: the imposm lifecycle on a seeded synthetic city.

Bulk phase: a diff-mode import. read_pbf reads every element (no tag
prefilter, since replication state must hold untagged nodes too), the
state is pinned, ImportPipeline builds the tables, build_generalized_tables
the generalized ones, and sinks.postgis.write_parquet writes all of them.

Steps: one minutely batch of ~500 changes each through
ReplicationRunner.apply_one. The traced run applies the same batches
through apply_one's calls made serially (read_osc_xml,
apply_changes_to_state, compute_frontier, apply_batch,
expired_tiles_for_batch, refresh_generalized_tables), so each layer gets a
span of its own.

Gate (untimed): the row counts of the import's parquet output, read back,
equal the generator's prediction. After
the last batch the replicated element state equals the generator's final
city, and every table and generalized table hash-equals a fresh import of
that state (incremental result = recomputation), whose row counts equal
the generator's prediction too.
"""

from __future__ import annotations

import gc
import hashlib
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import gen_city
from common import Context, closed_loop, median, table_digests, timed_reps

HERE = os.path.dirname(os.path.abspath(__file__))
MAPPING = os.path.join(HERE, "city_mapping.yml")
GRID = 25  # 25 x 25 street grid: ~7k elements
CHANGES = 500  # changes per minutely batch
MAX_BATCHES = 12
SMOKE = {"grid": 8, "changes": 40, "batches": 3}


def _pin_all(frames: dict) -> dict:
    """localCheckpoint independent frames concurrently (one job each)."""
    with ThreadPoolExecutor(max_workers=8) as pool:
        futs = {n: pool.submit(df.localCheckpoint) for n, df in frames.items()}
        return {n: f.result() for n, f in futs.items()}


def _union_tables(parts: list[dict]) -> dict:
    tables: dict[str, list] = {}
    for part in parts:
        for name, df in part.items():
            tables.setdefault(name, []).append(df)
    return {n: reduce(lambda a, b: a.unionByName(b), dfs) for n, dfs in tables.items()}


def _canonical(elements):
    """Element rows in a form both readers agree on: coordinates at the
    7 decimals OSM carries, tags as sorted key=value strings."""
    from pyspark.sql import functions as F

    tags = F.array_sort(
        F.transform(F.map_entries("tags"), lambda e: F.concat_ws("=", e["key"], e["value"]))
    ).alias("tags")
    if "lon" in elements.columns:
        return elements.select("id", F.round("lon", 7).alias("lon"), F.round("lat", 7).alias("lat"), tags)
    return elements.select("id", "refs" if "refs" in elements.columns else "members", tags)


class CityRun:
    """One seed's city files and their import."""

    def __init__(self, ctx: Context, grid: int, changes: int, batches: int):
        self.ctx = ctx
        self.grid, self.changes, self.batches = grid, changes, batches
        self.dir = os.path.join(ctx.workdir, "city")
        self.diff_dir = os.path.join(self.dir, "diffs")
        self.pbf = os.path.join(self.dir, "city.osm.pbf")

    def generate(self) -> bytes:
        """Write the city PBF and its OSC sequence; return a digest of
        every file written (for the determinism check)."""
        from imposm3_spark.sources.pbf import write_pbf

        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.diff_dir)
        city = gen_city.make_city(self.ctx.seed, self.grid)
        self.expected = gen_city.expected_rows(city)
        self.elements = city.element_count
        write_pbf(self.pbf, *gen_city.element_rows(city))
        gen_city.write_sequence(city, self.ctx.seed, self.diff_dir, self.batches, self.changes)
        digest = hashlib.sha256()
        for path in [self.pbf] + [os.path.join(self.diff_dir, f"{s}.osc") for s in range(1, self.batches + 1)]:
            with open(path, "rb") as fh:
                digest.update(fh.read())
        return digest.digest()

    def final_model(self, applied: int):
        """The generator's city after `applied` batches, as element frames."""
        from imposm3_spark.sources.osm_xml import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA

        city = gen_city.make_city(self.ctx.seed, self.grid)
        for _ in gen_city.batches(city, self.ctx.seed, applied, self.changes):
            pass
        self.final_expected = gen_city.expected_rows(city)
        return tuple(
            self.ctx.spark.createDataFrame([row + (None,) for row in rows], schema)
            for rows, schema in zip(gen_city.element_rows(city), (NODE_SCHEMA, WAY_SCHEMA, RELATION_SCHEMA))
        )

    # ---- bulk import ---------------------------------------------------

    def import_city(self, mapping, traced: bool):
        """The timed diff-mode import; returns (pipe, state, tables, gens)."""
        from imposm3_spark.diff.update import OsmState
        from imposm3_spark.pipeline.engine import ImportPipeline
        from imposm3_spark.pipeline.generalize import build_generalized_tables
        from imposm3_spark.sinks.postgis import write_parquet
        from imposm3_spark.sources.pbf import read_pbf

        tr = self.ctx.tracer
        spark = self.ctx.spark
        with tr.span("sources.read_pbf"):
            state = OsmState(*(df.localCheckpoint() for df in read_pbf(spark, self.pbf)))
        pipe = ImportPipeline(mapping, srid=3857)
        if traced:
            tables = self._phased_tables(pipe, state)
        else:
            with tr.span("pipeline.tables"):
                tables = _pin_all(pipe.run(state.nodes, state.ways, state.relations))
        with tr.span("pipeline.generalize"):
            gens = _pin_all(build_generalized_tables(mapping, tables))
        with tr.span("sinks.write_parquet"):
            write_parquet({**tables, **gens}, os.path.join(self.dir, "tables"))
        return pipe, state, tables, gens

    def _phased_tables(self, pipe, state) -> dict:
        """pipe.run's phases one at a time, each materialized in its span."""
        tr = self.ctx.tracer
        with tr.span("pipeline.coords"):
            coords = pipe.prepare_coords(state.nodes).localCheckpoint()
        with tr.span("pipeline.members"):
            members = _pin_all(pipe.relation_member_tables(state.relations, state.ways, state.nodes, coords=coords))
        with tr.span("pipeline.relations"):
            rels = _pin_all(pipe.relation_tables(state.relations, state.ways, coords))
        with tr.span("pipeline.ways"):
            ways = _pin_all(pipe.way_tables(state.ways, coords))
        with tr.span("pipeline.nodes"):
            nodes = _pin_all(pipe.node_tables(state.nodes))
        return _pin_all(_union_tables([members, rels, ways, nodes]))


class SerialBatches:
    """apply_one's calls in its order, made serially, one span each."""

    def __init__(self, ctx: Context, pipe, state, tables, gens, diff_dir: str, expire_dir: str):
        self.ctx, self.pipe = ctx, pipe
        self.state, self.tables, self.gens = state, tables, gens
        self.diff_dir, self.expire_dir = diff_dir, expire_dir
        self.layer: dict[str, list[float]] = {}

    def apply_one(self, seq: int) -> bool:
        from imposm3_spark.diff.runner import sequence_path, write_state_txt
        from imposm3_spark.diff.update import (
            OsmState,
            apply_batch,
            apply_changes_to_state,
            compute_frontier,
            expired_tiles_for_batch,
        )
        from imposm3_spark.expire.tiles import TileExpireList
        from imposm3_spark.pipeline.generalize import refresh_generalized_tables
        from imposm3_spark.sources.osm_xml import read_osc_xml

        tr = self.ctx.tracer
        spark = self.ctx.spark
        with tr.span("sources.read_osc"):
            changes = read_osc_xml(spark, sequence_path(self.diff_dir, seq))
        with tr.span("diff.state"):
            new_state = OsmState(*_pin_all(vars(apply_changes_to_state(self.state, changes))).values())
        with tr.span("diff.frontier"):
            frontier = compute_frontier(self.state, new_state, changes, pin=True)
        with tr.span("diff.rebuild"):
            _, new_tables, affected = apply_batch(
                self.pipe, self.state, self.tables, changes,
                with_affected=True, new_state=new_state, frontier=frontier,
            )
            new_tables = _pin_all(new_tables)
        with tr.span("expire.tiles"):
            tiles = expired_tiles_for_batch(self.pipe, self.state, new_state, frontier).collect()
            tl = TileExpireList(max_zoom=14)
            for r in tiles:
                tl.tiles.setdefault(r["z"], set()).add((r["x"], r["y"]))
            tl.flush(self.expire_dir)
        with tr.span("pipeline.gen_refresh"):
            self.gens = _pin_all(refresh_generalized_tables(self.pipe.mapping, self.gens, new_tables, affected))
        write_state_txt(os.path.join(self.diff_dir, "last.state.txt"), seq)
        self._last = (changes, frontier, new_tables, affected, len(tiles))
        self.state, self.tables = new_state, new_tables
        gc.collect()
        return True

    def account(self) -> None:
        """Useful-work counts of the last batch, read after its spans closed."""
        changes, frontier, new_tables, affected, n_tiles = self._last
        n_changes = changes.count()
        n_frontier = reduce(
            lambda a, b: a.unionByName(b), (frontier.node_ids, frontier.way_ids, frontier.rel_ids)
        ).count()
        rebuilt = reduce(
            lambda a, b: a.unionByName(b),
            (
                df.join(affected[self.pipe.mapping.tables[name].type], "osm_id", "left_semi").select("osm_id")
                for name, df in new_tables.items()
            ),
        ).count()
        for key, value in (
            ("frontier_elements", n_frontier),
            ("rows_rebuilt_per_change", rebuilt / max(n_changes, 1)),
            ("tiles", n_tiles),
            ("pinned_bytes", self.ctx.tracer.pinned_bytes()),
        ):
            self.layer.setdefault(key, []).append(value)


def run(ctx: Context) -> dict:
    from imposm3_spark.diff.runner import ReplicationRunner
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline
    from imposm3_spark.pipeline.generalize import build_generalized_tables

    size = SMOKE if ctx.smoke else {"grid": GRID, "changes": CHANGES, "batches": MAX_BATCHES}
    mapping = load_mapping(MAPPING)
    tr = ctx.tracer

    # ---- set-up: input generation twice (must be byte-identical)
    city = CityRun(ctx, size["grid"], size["changes"], size["batches"])
    gen_walls, outs = timed_reps(city.generate, 2)
    ctx.check(len(set(outs)) == 1, "city generation is not deterministic for one seed")
    tr.reset()

    # ---- bulk import (timed); the gate reads back what it wrote
    t = time.perf_counter()
    with tr.span("import"):
        pipe, state, tables, gens = city.import_city(mapping, ctx.traced)
    import_s = time.perf_counter() - t
    ctx.attempted += 1
    written = [os.path.join(city.dir, "tables", n) for n in {**tables, **gens}]

    # ---- replication batches (timed, closed loop)
    expire_dir = os.path.join(city.dir, "expire")
    os.makedirs(expire_dir, exist_ok=True)
    if ctx.traced:
        runner = SerialBatches(ctx, pipe, state, tables, gens, city.diff_dir, expire_dir)
    else:
        runner = ReplicationRunner(
            spark=ctx.spark, pipe=pipe, state=state, tables=tables,
            diff_dir=city.diff_dir, state_file=os.path.join(city.diff_dir, "last.state.txt"),
            expire_dir=expire_dir, gens=gens,
        )

    def step(i: int) -> bool:
        """Apply sequence i + 2 (i = -1 is the warm-up batch); the traced
        run then counts the batch's useful work."""
        with tr.span("batch" if i >= 0 else "warmup", step=i):
            ok = runner.apply_one(i + 2)
        if ctx.traced:
            with tr.span("account"):
                runner.account()
        return ok

    # the first batch after the import warms the diff path up: it is set-up,
    # not a measured step
    t = time.perf_counter()
    step(-1)
    warmup_s = time.perf_counter() - t
    walls = closed_loop(ctx, step, min_steps=2, max_steps=size["batches"] - 1)
    applied = len(walls) + 1

    # ---- gate (untimed), one digest job: the import's parquet output holds
    # the predicted rows; the replicated state equals the generator's final
    # city, and the maintained tables a fresh import of it
    t_gate = time.perf_counter()
    state = runner.state
    fresh = ImportPipeline(mapping, srid=3857).run(state.nodes, state.ways, state.relations)
    fresh.update(build_generalized_tables(mapping, fresh))
    kinds = ("nodes", "ways", "relations")
    both = table_digests(
        {**{("want", k): _canonical(df) for k, df in zip(kinds, city.final_model(applied))},
         **{("got", k): _canonical(getattr(state, k)) for k in kinds},
         **{("want", n): df for n, df in fresh.items()},
         **{("got", n): df for n, df in {**runner.tables, **runner.gens}.items()},
         **{("sink", path): ctx.spark.read.parquet(path) for path in written}}
    )
    sink = {os.path.basename(p): v for (side, p), v in both.items() if side == "sink"}
    city.rows_written = sum(n for n, _ in sink.values())
    counts = {n: sink[n][0] for n in city.expected}
    if not ctx.check(counts == city.expected, f"imported rows {counts} != predicted {city.expected}"):
        ctx.failed += 1
    want = {n: v for (side, n), v in both.items() if side == "want"}
    got = {n: v for (side, n), v in both.items() if side == "got"}
    if ctx.tamper:
        want["roads"] = (want["roads"][0], "0")
    final_counts = {n: want[n][0] for n in city.final_expected}
    ok = ctx.check(final_counts == city.final_expected, f"fresh-import rows {final_counts} != predicted {city.final_expected}")
    differ = sorted(n for n in want if got[n] != want[n])
    ok &= ctx.check(not differ, f"after {applied} batches these differ from the generator's city or a fresh import: {differ}")
    if not ok:
        ctx.failed += 1
    print(f"import {import_s:.2f}s, warm-up batch {warmup_s:.2f}s, gate {time.perf_counter() - t_gate:.2f}s", file=sys.stderr)

    metrics = {
        "setup_s": (ctx.launch_s + median(gen_walls) + warmup_s, "s"),
        # traced batches also count their useful work; time the batch alone
        "step_s": (median([s.secs for s in tr.named("batch")] if ctx.traced else walls), "s"),
        "items_per_s": (city.elements / import_s, "1/s"),
    }
    if ctx.traced:
        metrics.update(_layers(ctx, city, runner))
    return metrics


def _layers(ctx: Context, city: CityRun, runner: SerialBatches) -> dict:
    tr = ctx.tracer

    def per_batch(name: str) -> float:
        return median([s.secs for s in tr.named(name) if s.step is not None and s.step >= 0])

    layer = runner.layer
    return {
        "sources.read_pbf_s": (tr.total_secs("sources.read_pbf"), "s"),
        "sources.elements": (city.elements, "count"),
        "sources.read_osc_s": (per_batch("sources.read_osc"), "s"),
        "pipeline.coords_s": (tr.total_secs("pipeline.coords"), "s"),
        "pipeline.ways_s": (tr.total_secs("pipeline.ways"), "s"),
        "pipeline.relations_s": (tr.total_secs("pipeline.relations"), "s"),
        "pipeline.members_s": (tr.total_secs("pipeline.members"), "s"),
        "pipeline.nodes_s": (tr.total_secs("pipeline.nodes"), "s"),
        "pipeline.generalize_s": (tr.total_secs("pipeline.generalize"), "s"),
        "pipeline.gen_refresh_s": (per_batch("pipeline.gen_refresh"), "s"),
        "sinks.write_parquet_s": (tr.total_secs("sinks.write_parquet"), "s"),
        "sinks.rows": (city.rows_written, "count"),
        "diff.state_s": (per_batch("diff.state"), "s"),
        "diff.frontier_s": (per_batch("diff.frontier"), "s"),
        "diff.rebuild_s": (per_batch("diff.rebuild"), "s"),
        "diff.frontier_elements": (median(layer["frontier_elements"]), "count"),
        "diff.rows_rebuilt_per_change": (median(layer["rows_rebuilt_per_change"]), "ratio"),
        "expire.tiles_s": (per_batch("expire.tiles"), "s"),
        "expire.tiles": (median(layer["tiles"]), "count"),
        "spark.pinned_bytes": (layer["pinned_bytes"][-1], "bytes"),
    }

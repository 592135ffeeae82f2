"""End-to-end diff/replication throughput bench (SURVEY §2.8 T1-T8).

The import bench covers parse→match→resolve→sink and the curate bench
covers the datapipe; this module times the reference's raison d'être —
the incremental update loop (update/process.go:23-317): N OsmChange
sequence files applied through `diff/runner.ReplicationRunner`, i.e.
last-write-wins state upsert (T4), old-state frontier walk (T3),
delete-before-insert table rebuild on the frontier via the import
pipeline (T2/T5), per-id generalized-table refresh (T6), tile expiry
(T7), and the exactly-once state checkpoint (T8).

Protocol: import a replicated Monaco base state once (setup, not timed in
the headline), synthesize N deterministic `.osc` batches against ids
actually present in that state (node moves that fan out to dependent
ways, way tag edits, deletes, creates), then time the runner draining the
sequence directory. Headline metric: changes applied per second of apply
wall; per-batch and per-stage walls ride along (the runner records where
each batch's lazy plan actually executes).

Synthesis is deterministic (xxhash64-ordered samples, fixed id strides) —
two runs over the same base state produce byte-identical change files, so
trials are comparable and A/B runs across rounds measure the engine, not
the workload.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from xml.sax.saxutils import escape, quoteattr

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imposm3_spark.benchimport import (
    FIXTURE,
    MAPPING,
    PBF_FIXTURE,
    replicate_elements,
)

# Created elements get ids far above both the fixture ids and the replica
# strides (benchimport._ID_OFFSET * copies tops out well below 2^52).
_CREATE_ID_BASE = 1 << 55


def _xml_tags(tags: dict | None) -> str:
    if not tags:
        return ""
    return "".join(
        f'<tag k={quoteattr(str(k))} v={quoteattr(str(v))}/>' for k, v in sorted(tags.items())
    )


def _node_xml(nid: int, lon: float, lat: float, tags: dict | None) -> str:
    return (
        f'<node id="{nid}" version="2" lat="{lat:.7f}" lon="{lon:.7f}">'
        f"{_xml_tags(tags)}</node>"
    )


def _way_xml(wid: int, refs: list[int], tags: dict | None) -> str:
    nds = "".join(f'<nd ref="{r}"/>' for r in refs)
    return f'<way id="{wid}" version="2">{nds}{_xml_tags(tags)}</way>'


def synthesize_batches(
    nodes: DataFrame,
    ways: DataFrame,
    out_dir: str,
    n_batches: int,
    changes_per_batch: int,
) -> int:
    """Write <out_dir>/1.osc .. N.osc; returns total changes written.

    Batch mix (shares of changes_per_batch):
      60% node moves   — nodes REFERENCED BY WAYS, so every one triggers
                         the J1 dependent-way rebuild and tile expiry
      20% way edits    — tagged ways get a tag value bump (table row
                         delete+reinsert without geometry change)
      10% deletes      — tagged standalone nodes (point-table deletes)
      10% creates      — brand-new place nodes (insert-only path)
    Samples are xxhash64-ordered: deterministic, and spread across the
    replicas instead of clustering in the lowest-id copy."""
    n_moves = changes_per_batch * 6 // 10
    n_wedits = changes_per_batch * 2 // 10
    n_dels = changes_per_batch // 10
    n_creates = changes_per_batch - n_moves - n_wedits - n_dels

    ref_ids = ways.select(F.explode("refs").alias("id")).distinct()
    move_pool = (
        nodes.join(ref_ids, "id", "left_semi")
        .orderBy(F.xxhash64("id"))
        .limit(n_moves * n_batches)
        .select("id", "lon", "lat", "tags")
        .collect()
    )
    way_pool = (
        ways.filter(F.size("tags") > 0)
        .orderBy(F.xxhash64("id"))
        .limit(n_wedits * n_batches)
        .select("id", "refs", "tags")
        .collect()
    )
    del_pool = (
        nodes.filter(F.size("tags") > 0)
        .join(ref_ids, "id", "left_anti")
        .orderBy(F.xxhash64("id"))
        .limit(n_dels * n_batches)
        .select("id", "lon", "lat")
        .collect()
    )

    total = 0
    for b in range(n_batches):
        parts = ['<?xml version="1.0" encoding="UTF-8"?>']
        parts.append('<osmChange version="0.6" generator="benchdiff">')
        parts.append("<modify>")
        for r in move_pool[b * n_moves : (b + 1) * n_moves]:
            parts.append(
                _node_xml(r["id"], r["lon"] + 0.00011, r["lat"] + 0.00007, r["tags"])
            )
        for r in way_pool[b * n_wedits : (b + 1) * n_wedits]:
            tags = dict(r["tags"])
            tags["name"] = f"benchdiff-{b}"
            parts.append(_way_xml(r["id"], list(r["refs"]), tags))
        parts.append("</modify>")
        parts.append("<delete>")
        for r in del_pool[b * n_dels : (b + 1) * n_dels]:
            parts.append(
                f'<node id="{r["id"]}" version="2" '
                f'lat="{r["lat"]:.7f}" lon="{r["lon"]:.7f}"/>'
            )
        parts.append("</delete>")
        parts.append("<create>")
        for i in range(n_creates):
            nid = _CREATE_ID_BASE + b * n_creates + i
            lon = 7.42 + (i % 100) * 0.0003
            lat = 43.73 + (i // 100) * 0.0003
            parts.append(
                _node_xml(nid, lon, lat, {"place": "village", "name": escape(f"bd-{b}-{i}")})
            )
        parts.append("</create>")
        parts.append("</osmChange>")
        with open(os.path.join(out_dir, f"{b + 1}.osc"), "w") as f:
            f.write("\n".join(parts))
        total += (
            min(n_moves, max(0, len(move_pool) - b * n_moves))
            + min(n_wedits, max(0, len(way_pool) - b * n_wedits))
            + min(n_dels, max(0, len(del_pool) - b * n_dels))
            + n_creates
        )
    return total


def _base_state(spark: SparkSession, copies: int):
    """Imported base: Monaco PBF (fallback complete_db.osm), replicated
    `copies`x, pipeline run, everything pinned (setup — not the headline)."""
    from imposm3_spark.mapping.config import load_mapping
    from imposm3_spark.pipeline.engine import ImportPipeline
    from imposm3_spark.pipeline.generalize import build_generalized_tables
    from imposm3_spark.sources.osm_xml import read_osm_xml
    from imposm3_spark.sources.pbf import read_pbf

    mapping = load_mapping(MAPPING)
    use_pbf = os.path.exists(PBF_FIXTURE) and os.environ.get(
        "SPARK_GRAFT_IMPORT_SRC", "pbf"
    ) != "xml"
    if use_pbf:
        # NO mapping prefilter here: diff state must hold ALL elements
        # (an unmatched node can still be a way's coordinate, and the
        # frontier walks raw references)
        nodes, ways, relations = read_pbf(spark, PBF_FIXTURE)
    else:
        nodes, ways, relations = read_osm_xml(spark, FIXTURE)
    par = spark.sparkContext.defaultParallelism
    nodes, ways, relations = (df.repartition(par) for df in (nodes, ways, relations))
    nodes, ways, relations = replicate_elements(nodes, ways, relations, copies)
    nodes = nodes.localCheckpoint()
    ways = ways.localCheckpoint()
    relations = relations.localCheckpoint()

    pipe = ImportPipeline(mapping, srid=3857)
    tables = {n: df.localCheckpoint() for n, df in pipe.run(nodes, ways, relations).items()}
    gens = {
        n: df.localCheckpoint()
        for n, df in build_generalized_tables(mapping, tables).items()
    }
    src = "monaco.pbf" if use_pbf else "complete_db.osm"
    return pipe, nodes, ways, relations, tables, gens, src


def diff_bench(
    spark: SparkSession,
    copies: int | None = None,
    n_batches: int | None = None,
    changes_per_batch: int | None = None,
    _setup=None,
) -> dict:
    """Time the replication loop; returns a compact summary dict.

    `_setup` lets measured_run reuse one imported base state across
    trials — the runner never mutates the base frames (each batch builds
    NEW localCheckpointed state/tables), so trials are independent."""
    from imposm3_spark.diff.runner import ReplicationRunner
    from imposm3_spark.diff.update import OsmState

    if copies is None:
        # 32 Monaco replicas ≈ 620k elements of state: big enough that
        # the frontier joins run against real state volume, small enough
        # that setup + 2 trials stay ~1 min in a warm JVM
        copies = int(os.environ.get("SPARK_GRAFT_DIFF_COPIES", "32"))
    if n_batches is None:
        n_batches = int(os.environ.get("SPARK_GRAFT_DIFF_BATCHES", "2"))
    if changes_per_batch is None:
        changes_per_batch = int(os.environ.get("SPARK_GRAFT_DIFF_CHANGES", "500"))

    t_setup = time.perf_counter()
    if _setup is None:
        _setup = _base_state(spark, copies)
    pipe, nodes, ways, relations, tables, gens, src = _setup
    setup_secs = round(time.perf_counter() - t_setup, 3)

    tmp = tempfile.mkdtemp(prefix="imposm3_diff_bench_")
    try:
        total_changes = synthesize_batches(
            nodes, ways, tmp, n_batches, changes_per_batch
        )
        expire_dir = os.path.join(tmp, "expired")
        os.makedirs(expire_dir, exist_ok=True)
        runner = ReplicationRunner(
            spark=spark,
            pipe=pipe,
            state=OsmState(nodes, ways, relations),
            tables=dict(tables),
            diff_dir=tmp,
            state_file=os.path.join(tmp, "last.state.txt"),
            expire_dir=expire_dir,
            gens=dict(gens),
        )
        batch_secs = []
        stage_totals: dict[str, float] = {}
        t0 = time.perf_counter()
        for seq in range(1, n_batches + 1):
            t = time.perf_counter()
            assert runner.apply_one(seq), f"sequence {seq} missing"
            batch_secs.append(round(time.perf_counter() - t, 3))
            for k, v in runner.last_stage_secs.items():
                stage_totals[k] = round(stage_totals.get(k, 0.0) + v, 3)
        wall = round(time.perf_counter() - t0, 3)
        assert runner.current_sequence() == n_batches
        # the expiry sink actually wrote tile lists
        expired_files = len(os.listdir(expire_dir))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    return {
        "metric": "osm_diff_e2e_wall",
        "value": wall,
        "unit": "sec",
        "src": src,
        "copies": copies,
        "batches": n_batches,
        "changes": total_changes,
        "changes_per_sec": round(total_changes / wall, 1) if wall else None,
        "batch_secs": batch_secs,
        "stages": stage_totals,
        "setup_secs": setup_secs,
        "expired_files": expired_files,
    }


def measured_run(spark: SparkSession) -> dict:
    """One warm JVM: import the base once, a small warmup trial, then
    best-of-2 timed trials over the same (deterministic) change files,
    then one 4x-changes-per-batch scale probe.

    The probe is the scale story: a batch's wall is dominated by FIXED
    per-batch cost (plan construction + ~100 small jobs through the
    scheduler), not per-change work, so changes/s rises near-linearly
    with batch size — the planet-scale shape, where a minutely diff is
    thousands of changes and the fixed cost amortizes. The headline
    metric stays the 2-batch trial for round-over-round comparability;
    `scale_probe` carries the big-batch throughput."""
    import gc

    copies = int(os.environ.get("SPARK_GRAFT_DIFF_COPIES", "32"))
    n_batches = int(os.environ.get("SPARK_GRAFT_DIFF_BATCHES", "2"))
    per_batch = int(os.environ.get("SPARK_GRAFT_DIFF_CHANGES", "500"))
    setup = _base_state(spark, copies)
    gc.collect()
    diff_bench(spark, copies=copies, n_batches=1, changes_per_batch=100, _setup=setup)
    runs = []
    for _ in range(2):
        gc.collect()
        runs.append(
            diff_bench(
                spark,
                copies=copies,
                n_batches=n_batches,
                changes_per_batch=per_batch,
                _setup=setup,
            )
        )
    best = min(runs, key=lambda r: r["value"])
    best["trials"] = len(runs)
    gc.collect()
    probe = diff_bench(
        spark,
        copies=copies,
        n_batches=n_batches,
        changes_per_batch=per_batch * 4,
        _setup=setup,
    )
    best["scale_probe"] = {
        "changes": probe["changes"],
        "value": probe["value"],
        "changes_per_sec": probe["changes_per_sec"],
        "batch_secs": probe["batch_secs"],
    }
    return best


if __name__ == "__main__":
    import json
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from imposm3_spark.session import get_spark

    spark = get_spark("imposm3-diff-bench")
    spark.sparkContext.setLogLevel("ERROR")
    mode = sys.argv[1] if len(sys.argv) > 1 else "once"
    if mode == "measured":
        print(json.dumps(measured_run(spark)), flush=True)
    else:
        print(json.dumps(diff_bench(spark)), flush=True)

"""Replication loop (SURVEY §2.1 S5, §2.8 T1/T8).

Parity target: update/cmd.go:48-257 (diffImportLoop / importLoop) and
vendor go-osm replication/diff — poll a sequence-numbered directory of
OsmChange files, apply each exactly once, checkpoint `last.state.txt`.

Spark shape: a driver-side micro-batch loop (the reference has no
watermarks/event-time either — every change applies, last-write-wins per
id). Each batch is `apply_change_rows` (the batch step shared with the
streaming replicator and `imposm3_spark diff`) + an atomic state write,
i.e. foreachBatch semantics with a file checkpoint. The element state and
output tables are pinned per batch and the previous versions released —
bounded memory, restart picks up from last.state.txt.

Sequence files follow the osmosis layout the reference consumes:
  <dir>/NNN/NNN/NNN.osc.gz  (or flat <dir>/<seq>.osc[.gz])
with a sibling .state.txt; we accept both layouts.
"""

from __future__ import annotations

import gc
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from imposm3_spark.diff.update import (
    OsmState,
    apply_batch,
    expired_tile_list,
    pin_state_and_frontier,
)
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import CHANGE_SCHEMA, read_osc_rows


def parse_state_txt(text: str) -> dict[str, str]:
    """osmosis state.txt: key=value lines, '#' comments."""
    out = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        if "=" in line:
            k, v = line.split("=", 1)
            out[k.strip()] = v.strip().replace("\\:", ":")
    return out


def write_state_txt(path: str | Path, sequence: int, timestamp: str | None = None) -> None:
    ts = timestamp or time.strftime("%Y-%m-%dT%H\\:%M\\:%SZ", time.gmtime())
    tmp = Path(str(path) + "~")
    tmp.write_text(f"timestamp={ts}\nsequenceNumber={sequence}\n")
    tmp.rename(path)


def _pin_all(frames: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """localCheckpoint independent frames concurrently: each pin is a small
    job, and serial submission pays one scheduler round trip per frame
    where one suffices on an idle cluster."""
    with ThreadPoolExecutor(max_workers=8) as pool:
        futs = {n: pool.submit(df.localCheckpoint) for n, df in frames.items()}
        return {n: f.result() for n, f in futs.items()}


def sequence_path(diff_dir: str | Path, seq: int) -> Path | None:
    """Locate the change file for a sequence (nested osmosis layout or
    flat)."""
    diff_dir = Path(diff_dir)
    nested = f"{seq // 1_000_000:03d}/{(seq // 1000) % 1000:03d}/{seq % 1000:03d}"
    for cand in (
        diff_dir / f"{nested}.osc.gz",
        diff_dir / f"{nested}.osc",
        diff_dir / f"{seq}.osc.gz",
        diff_dir / f"{seq}.osc",
    ):
        if cand.exists():
            return cand
    return None


# Broadcast-hint gate (round-10 ADVICE): the hints assume a
# blast-radius-bounded batch, but batch size is input-controlled (catch-up
# replication, a streaming backlog, mass edits). A batch of at most
# DIFF_GATE changes pays NOTHING for the gate (the parsed row count is
# known on the driver); a larger one sort-merges its state anti joins and
# frontier walk, then pays three tiny count jobs on the pinned frontier
# frames and, if any side exceeds DIFF_BROADCAST_LIMIT ids (~32 MB), drops
# every downstream hint so the joins degrade to sort-merge instead of
# OOMing the driver. Residual (documented): a pathological fan-out from
# FEW changes is not gated — it is bounded by the state's max ways-per-node
# fan-in.
DIFF_GATE = 100_000
DIFF_BROADCAST_LIMIT = 4_000_000


def apply_change_rows(
    spark: SparkSession,
    pipe: ImportPipeline,
    state: OsmState,
    tables: dict[str, DataFrame],
    gens: dict[str, DataFrame] | None,
    rows: list[tuple],
    expire_dir: str | None = None,
    expire_zoom: int = 14,
) -> tuple[OsmState, dict[str, DataFrame], dict[str, DataFrame] | None, dict[str, float]]:
    """One replication batch: CHANGE_SCHEMA rows -> the pinned new state,
    tables and generalized tables, plus per-stage walls. The one batch body
    of ``ReplicationRunner``, ``StreamingReplicator`` and ``imposm3_spark
    diff`` (update/cmd.go:81-257 is likewise one loop for all three).

    Stage walls mark where the LAZY batch plan actually executes: state at
    the change-set pin and the concurrent state and frontier pins;
    frontier at the broadcast gate only (no job below the gate); rebuild at
    the engine's shared-frontier pins; tables/gens at their
    localCheckpoints; expire (concurrent with rebuild and tables) at its
    geometry collect."""
    stage_secs: dict[str, float] = {}
    changes = spark.createDataFrame(rows, CHANGE_SCHEMA)
    small = len(rows) <= DIFF_GATE
    t0 = time.perf_counter()
    new_state, frontier = pin_state_and_frontier(state, changes, hint=small)
    stage_secs["state"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    hint = small or all(
        df.count() <= DIFF_BROADCAST_LIMIT
        for df in (frontier.node_ids, frontier.way_ids, frontier.rel_ids)
    )
    stage_secs["frontier"] = round(time.perf_counter() - t0, 3)

    def _expire() -> float:
        t0 = time.perf_counter()
        expired_tile_list(
            pipe, state, new_state, frontier, max_zoom=expire_zoom, hint=hint
        ).flush(expire_dir)
        return round(time.perf_counter() - t0, 3)

    # expiry depends only on (state, new_state, frontier) — all pinned
    # above — so it runs CONCURRENTLY with the rebuild and the table pins
    # below; its wall is still recorded separately. Its result is read
    # (and the pool left) even when the rebuild or a table pin raises
    # mid-batch.
    with ThreadPoolExecutor(max_workers=1) as expire_pool:
        expire_future = expire_pool.submit(_expire) if expire_dir is not None else None
        try:
            t0 = time.perf_counter()
            _, new_tables, affected = apply_batch(
                pipe,
                state,
                tables,
                changes,
                with_affected=True,
                new_state=new_state,
                frontier=frontier,
                hint=hint,
            )
            # plan construction + the engine's shared-frontier pins (the
            # rebuilt rows themselves materialize under "tables")
            stage_secs["rebuild"] = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            new_tables = _pin_all(new_tables)
            stage_secs["tables"] = round(time.perf_counter() - t0, 3)
        finally:
            if expire_future is not None:
                stage_secs["expire"] = expire_future.result()
    if gens is not None:
        # per-id gen refresh (T6) off the MATERIALIZED base tables
        from imposm3_spark.pipeline.generalize import refresh_generalized_tables

        t0 = time.perf_counter()
        gens = _pin_all(refresh_generalized_tables(pipe.mapping, gens, new_tables, affected))
        stage_secs["gens"] = round(time.perf_counter() - t0, 3)
    return new_state, new_tables, gens, stage_secs


@dataclass
class ReplicationRunner:
    spark: SparkSession
    pipe: ImportPipeline
    state: OsmState
    tables: dict[str, DataFrame]
    diff_dir: str
    state_file: str
    expire_dir: str | None = None
    expire_zoom: int = 14  # `-expiretiles-zoom` / config expiretiles_zoom
    gens: dict[str, DataFrame] | None = None  # generalized tables (T6)
    # optional durable element state (diff/state_store.py): saved after
    # every batch; `resume()` reloads it, so a restarted runner continues
    # from last.state.txt with id-bucketed (shuffle-free-join) state
    state_store: "object | None" = None
    # optional publish(state, tables): writes the batch's pinned output
    # before its sequence is checkpointed, so a killed runner restarts on
    # the data of every batch last.state.txt counts (`imposm3_spark run`)
    publish: "Callable[[OsmState, dict[str, DataFrame]], None] | None" = None
    # optional diff/download.DiffDownloader: when the next sequence is not
    # in diff_dir yet, fetch it from the remote feed first (`imposm run`
    # against a live replication endpoint, update/cmd.go:48-257)
    downloader: "object | None" = None
    # per-stage walls of the most recent apply_one (observability only;
    # see imposm3_spark/benchdiff.py)
    last_stage_secs: dict = field(default_factory=dict)

    def current_sequence(self) -> int:
        p = Path(self.state_file)
        if not p.exists():
            return 0
        return int(parse_state_txt(p.read_text()).get("sequenceNumber", 0))

    def apply_one(self, seq: int) -> bool:
        """Import one sequence file (exactly-once via the state file —
        update/cmd.go:259-320). Returns False when the file is absent."""
        path = sequence_path(self.diff_dir, seq)
        if path is None:
            return False
        t0 = time.perf_counter()
        rows = read_osc_rows(path)
        read_s = round(time.perf_counter() - t0, 3)
        self.state, self.tables, self.gens, stage_secs = apply_change_rows(
            self.spark,
            self.pipe,
            self.state,
            self.tables,
            self.gens,
            rows,
            self.expire_dir,
            self.expire_zoom,
        )
        stage_secs = {"read": read_s, **stage_secs}
        if self.state_store is not None:
            # durable publish BEFORE the sequence checkpoint: a crash
            # between the two replays the batch onto the already-updated
            # state, which is idempotent (last-write-wins upsert)
            t0 = time.perf_counter()
            self.state_store.save(self.state)
            self.state = self.state_store.load()
            stage_secs["store"] = round(time.perf_counter() - t0, 3)
        if self.publish is not None:
            t0 = time.perf_counter()
            self.publish(self.state, self.tables)
            stage_secs["publish"] = round(time.perf_counter() - t0, 3)
        write_state_txt(self.state_file, seq)
        self.last_stage_secs = stage_secs
        # drop the py4j handles of the replaced state/tables promptly so
        # the ContextCleaner can free their checkpoint blocks — without
        # this, round-11 probes measured 1-2.4 s of old-gen GC landing
        # inside the NEXT batch's table pins
        gc.collect()
        return True

    def resume(self) -> None:
        """Reload element state from the durable store (restart path)."""
        if self.state_store is None:
            raise ValueError("no state_store configured")
        self.state = self.state_store.load()

    def run(self, max_batches: int | None = None, poll_interval: float = 0.0) -> int:
        """Consume sequences until none is available (or max_batches).
        Returns the number of batches applied. With poll_interval > 0 the
        loop waits for the next file like `imposm run` (minimum 1-minute
        interval in the reference, config.go:136-138)."""
        applied = 0
        seq = self.current_sequence()
        while max_batches is None or applied < max_batches:
            nxt = seq + 1
            if self.downloader is not None and sequence_path(self.diff_dir, nxt) is None:
                try:
                    self.downloader.fetch_sequence(nxt, max_tries=1)
                except Exception:
                    pass  # not published yet — fall through to poll/exit
            if not self.apply_one(nxt):
                if poll_interval > 0:
                    time.sleep(poll_interval)
                    continue
                break
            seq = nxt
            applied += 1
        return applied

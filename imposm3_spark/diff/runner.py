"""Replication loop (SURVEY §2.1 S5, §2.8 T1/T8).

Parity target: update/cmd.go:48-257 (diffImportLoop / importLoop) and
vendor go-osm replication/diff — poll a sequence-numbered directory of
OsmChange files, apply each exactly once, checkpoint `last.state.txt`.

Spark shape: a driver-side micro-batch loop (the reference has no
watermarks/event-time either — every change applies, last-write-wins per
id). Each batch is `apply_batch` (pure DataFrame algebra) + an atomic state
write, i.e. foreachBatch semantics with a file checkpoint. The element
state and output tables are persisted per batch and the previous versions
unpersisted — bounded memory, restart picks up from last.state.txt.

Sequence files follow the osmosis layout the reference consumes:
  <dir>/NNN/NNN/NNN.osc.gz  (or flat <dir>/<seq>.osc[.gz])
with a sibling .state.txt; we accept both layouts.
"""

from __future__ import annotations

import gc
import os
import time
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
        # Stage walls for observability (imposm3_spark/benchdiff.py reads
        # them): each key marks where the LAZY batch plan actually
        # executes — state at the change-set pin and the concurrent
        # state and frontier pins; frontier at the broadcast gate only
        # (no job below the gate); rebuild at the engine's shared-frontier
        # pins; tables/gens at their localCheckpoints; expire (concurrent
        # with rebuild and tables) at its geometry collect; store at the
        # durable save.
        stage_secs: dict[str, float] = {}
        t0 = time.perf_counter()
        rows = read_osc_rows(path)
        changes = self.spark.createDataFrame(rows, CHANGE_SCHEMA)
        stage_secs["read"] = round(time.perf_counter() - t0, 3)

        # Broadcast-hint gate (round-10 ADVICE): the hints assume a
        # blast-radius-bounded batch, but batch size is input-controlled
        # (catch-up replication, mass edits). Normal batches pay NOTHING
        # here (the parsed row count is known on the driver); a
        # catch-up-sized batch sort-merges its state anti joins and
        # frontier walk, then pays three tiny count jobs on the pinned
        # frontier frames and, if any side could exceed the broadcastable
        # bound, drops every downstream hint so the joins degrade to
        # sort-merge instead of OOMing the driver. Residual (documented):
        # a pathological fan-out from FEW changes is not gated — it is
        # bounded by the state's max ways-per-node fan-in.
        small = len(rows) <= int(os.environ.get("SPARK_GRAFT_DIFF_GATE", "100000"))
        t0 = time.perf_counter()
        new_state, frontier = pin_state_and_frontier(self.state, changes, hint=small)
        stage_secs["state"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        hint = small
        if not small:
            limit = int(os.environ.get("SPARK_GRAFT_DIFF_BROADCAST_LIMIT", "4000000"))
            hint = all(
                df.count() <= limit
                for df in (frontier.node_ids, frontier.way_ids, frontier.rel_ids)
            )
        stage_secs["frontier"] = round(time.perf_counter() - t0, 3)

        old_state = self.state
        expire_future = None
        expire_pool = None
        try:
            if self.expire_dir is not None:
                # expiry depends only on (state, new_state, frontier) — all
                # pinned above — so it runs CONCURRENTLY with the rebuild
                # and the table pins below; its wall is still recorded
                # separately.
                def _expire() -> float:
                    t0 = time.perf_counter()
                    expired_tile_list(
                        self.pipe,
                        old_state,
                        new_state,
                        frontier,
                        max_zoom=self.expire_zoom,
                        hint=hint,
                    ).flush(self.expire_dir)
                    return round(time.perf_counter() - t0, 3)

                expire_pool = ThreadPoolExecutor(max_workers=1)
                expire_future = expire_pool.submit(_expire)
            t0 = time.perf_counter()
            _, new_tables, affected = apply_batch(
                self.pipe,
                old_state,
                self.tables,
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
            # the expire pool must not leak (and its future must be
            # awaited) even when the rebuild or a table pin raises
            # mid-batch (round-10 ADVICE)
            if expire_pool is not None:
                if expire_future is not None:
                    stage_secs["expire"] = expire_future.result()
                expire_pool.shutdown()
        if self.gens is not None:
            # per-id gen refresh (T6) off the MATERIALIZED base tables
            from imposm3_spark.pipeline.generalize import refresh_generalized_tables

            t0 = time.perf_counter()
            self.gens = _pin_all(
                refresh_generalized_tables(self.pipe.mapping, self.gens, new_tables, affected)
            )
            stage_secs["gens"] = round(time.perf_counter() - t0, 3)
        self.state = new_state
        self.tables = new_tables
        if self.state_store is not None:
            # durable publish BEFORE the sequence checkpoint: a crash
            # between the two replays the batch onto the already-updated
            # state, which is idempotent (last-write-wins upsert)
            t0 = time.perf_counter()
            self.state_store.save(new_state)
            self.state = self.state_store.load()
            stage_secs["store"] = round(time.perf_counter() - t0, 3)
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

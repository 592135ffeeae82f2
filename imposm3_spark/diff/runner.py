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
import urllib.error
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from imposm3_spark.diff.download import NotAvailable
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
) -> tuple[OsmState, dict[str, DataFrame], dict[str, DataFrame] | None]:
    """One replication batch: CHANGE_SCHEMA rows -> the pinned new state,
    tables and generalized tables. The one batch body of
    ``ReplicationRunner``, ``StreamingReplicator`` and ``imposm3_spark
    diff`` (update/cmd.go:81-257 is likewise one loop for all three)."""
    changes = spark.createDataFrame(rows, CHANGE_SCHEMA)
    small = len(rows) <= DIFF_GATE
    new_state, frontier = pin_state_and_frontier(state, changes, hint=small)
    hint = small or all(
        df.count() <= DIFF_BROADCAST_LIMIT
        for df in (frontier.node_ids, frontier.way_ids, frontier.rel_ids)
    )

    def _expire() -> None:
        expired_tile_list(
            pipe, state, new_state, frontier, max_zoom=expire_zoom, hint=hint
        ).flush(expire_dir)

    # expiry depends only on (state, new_state, frontier) — all pinned
    # above — so it runs CONCURRENTLY with the rebuild and the table pins
    # below. Its result is read (and the pool left) even when the rebuild
    # or a table pin raises mid-batch.
    with ThreadPoolExecutor(max_workers=1) as expire_pool:
        expire_future = expire_pool.submit(_expire) if expire_dir is not None else None
        try:
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
            new_tables = _pin_all(new_tables)
        finally:
            if expire_future is not None:
                expire_future.result()
    if gens is not None:
        # per-id gen refresh (T6) off the MATERIALIZED base tables
        from imposm3_spark.pipeline.generalize import refresh_generalized_tables

        gens = _pin_all(refresh_generalized_tables(pipe.mapping, gens, new_tables, affected))
    return new_state, new_tables, gens


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
    # optional publish(state, tables): writes the batch's pinned output
    # before its sequence is checkpointed, so a killed runner restarts on
    # the data of every batch last.state.txt counts (`imposm3_spark run`)
    publish: "Callable[[OsmState, dict[str, DataFrame]], None] | None" = None
    # optional diff/download.DiffDownloader: when the next sequence is not
    # in diff_dir yet, fetch it from the remote feed first (`imposm run`
    # against a live replication endpoint, update/cmd.go:48-257)
    downloader: "object | None" = None

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
        self.state, self.tables, self.gens = apply_change_rows(
            self.spark,
            self.pipe,
            self.state,
            self.tables,
            self.gens,
            read_osc_rows(path),
            self.expire_dir,
            self.expire_zoom,
        )
        if self.publish is not None:
            self.publish(self.state, self.tables)
        write_state_txt(self.state_file, seq)
        # drop the py4j handles of the replaced state/tables promptly so
        # the ContextCleaner can free their checkpoint blocks — without
        # this, round-11 probes measured 1-2.4 s of old-gen GC landing
        # inside the NEXT batch's table pins
        gc.collect()
        return True

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
                except (NotAvailable, urllib.error.URLError, OSError):
                    pass  # not published yet, or transient — fall through to poll/exit
            if not self.apply_one(nxt):
                if poll_interval > 0:
                    time.sleep(poll_interval)
                    continue
                break
            seq = nxt
            applied += 1
        return applied

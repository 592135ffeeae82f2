"""Structured Streaming replication: OSC landing dir -> live output tables.

The Spark-first form of `imposm run` (SURVEY §2.1 S5, §2.8 T1/T8;
reference update/cmd.go:48-257): instead of a hand-rolled poll loop, the
Structured Streaming FILE SOURCE discovers newly landed OsmChange files
and `checkpointLocation` provides exactly-once file processing across
restarts — the engine-native analog of `last.state.txt`.

Shape:
- `readStream.format("text").option("wholetext", true)` turns each
  `.osc` file into ONE row (OSC is a document format, not line-delimited;
  minutely change files are KB-MB sized, so a whole-file row is cheap);
- `foreachBatch` applies the SAME `apply_batch` DataFrame algebra as the
  batch diff path (T2-T6) — one transactional micro-batch over all files
  discovered this trigger, which is exactly the reference's
  `-commit-latest` mode (multiple sequence files in one commit,
  update/cmd.go:81-164);
- files within a batch are applied in filename order (sequence numbers
  sort lexicographically in the osmosis layout) and change order is kept
  global across files, so last-write-wins per element spans the batch.

State (element snapshot + output tables + generalized tables) lives on
the driver between micro-batches as checkpointed DataFrames — the same
bounded-memory regime as diff/runner.ReplicationRunner; on a cluster the
tables would be Delta/parquet sinks written per batch.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imposm3_spark.diff.update import (
    OsmState,
    apply_batch,
    expired_tile_list,
    pin_state_and_frontier,
)
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import CHANGE_SCHEMA, parse_osc_rows


@dataclass
class StreamingReplicator:
    spark: SparkSession
    pipe: ImportPipeline
    state: OsmState
    tables: dict[str, DataFrame]
    gens: dict[str, DataFrame] | None = None
    expire_dir: str | None = None
    batches_applied: int = field(default=0, init=False)

    def _apply_files(self, contents: list[str]) -> None:
        """Parse + apply one micro-batch worth of OSC documents."""
        rows: list[tuple] = []
        for text in contents:
            rows.extend(parse_osc_rows(ET.fromstring(text), pos_offset=len(rows)))
        if not rows:
            return
        changes = self.spark.createDataFrame(rows, CHANGE_SCHEMA)
        # pin state + frontier once (the same helper as
        # diff/runner.apply_one), then every downstream consumer
        # (rebuild/delete/expiry/gens) reads the materialized sets
        new_state, frontier = pin_state_and_frontier(self.state, changes)
        _, new_tables, affected = apply_batch(
            self.pipe,
            self.state,
            self.tables,
            changes,
            with_affected=True,
            new_state=new_state,
            frontier=frontier,
        )
        if self.expire_dir is not None:
            expired_tile_list(self.pipe, self.state, new_state, frontier).flush(self.expire_dir)
        new_tables = {n: df.localCheckpoint() for n, df in new_tables.items()}
        if self.gens is not None:
            from imposm3_spark.pipeline.generalize import refresh_generalized_tables

            new_gens = refresh_generalized_tables(
                self.pipe.mapping, self.gens, new_tables, affected
            )
            self.gens = {n: df.localCheckpoint() for n, df in new_gens.items()}
        self.state = new_state
        self.tables = new_tables
        self.batches_applied += 1

    def _process_batch(self, batch_df: DataFrame, _batch_id: int) -> None:
        # whole-file rows; minutely OSC files are small — driver-side parse,
        # then everything downstream is DataFrame algebra
        files = (
            batch_df.select(
                F.input_file_name().alias("path"), F.col("value").alias("content")
            )
            .collect()
        )
        ordered = sorted(files, key=lambda r: r["path"])
        self._apply_files([r["content"] for r in ordered])

    def start(
        self,
        landing_dir: str,
        checkpoint_dir: str,
        available_now: bool = False,
        processing_time: str = "60 seconds",
    ):
        """Start the stream. available_now=True drains the current landing
        dir and stops (test/backfill mode); otherwise triggers on the
        reference's minimum 1-minute replication cadence
        (config.go:136-138)."""
        raw = (
            self.spark.readStream.format("text")
            .option("wholetext", "true")
            .option("pathGlobFilter", "*.osc")
            .load(landing_dir)
        )
        writer = raw.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

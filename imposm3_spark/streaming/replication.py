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
- `foreachBatch` applies the SAME batch step as the replication runner
  and `imposm3_spark diff` (diff/runner.apply_change_rows, T1-T7) — one
  transactional micro-batch over all files discovered this trigger, which
  is exactly the reference's `-commit-latest` mode (multiple sequence
  files in one commit, update/cmd.go:81-164); a backlog trigger gets the
  step's catch-up broadcast gate;
- the stream reads flat `*.osc` files (`<seq>.osc`, the runner's flat
  layout); files within a batch are applied in sequence order (the
  integer leading the basename, so `9.osc` before `10.osc`; path order
  breaks ties) and change order is kept global across files, so
  last-write-wins per element spans the batch.

State (element snapshot + output tables + generalized tables) lives on
the driver between micro-batches as checkpointed DataFrames — the same
bounded-memory regime as diff/runner.ReplicationRunner; on a cluster the
tables would be Delta/parquet sinks written per batch.
"""

from __future__ import annotations

import gc
import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imposm3_spark.diff.runner import apply_change_rows
from imposm3_spark.diff.update import OsmState
from imposm3_spark.pipeline.engine import ImportPipeline
from imposm3_spark.sources.osm_xml import parse_osc_rows


def sequence_order(path: str) -> tuple:
    """Sort key for landed change files: the sequence number leading the
    basename (`9.osc` before `10.osc`, `000000002.osc` before both), then
    the path; names without a leading number sort last."""
    m = re.match(r"\d+", path.rsplit("/", 1)[-1])
    return (int(m.group()) if m else float("inf"), path)


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
        self.state, self.tables, self.gens = apply_change_rows(
            self.spark, self.pipe, self.state, self.tables, self.gens, rows, self.expire_dir
        )
        self.batches_applied += 1
        # free the replaced pins' py4j handles (see ReplicationRunner.apply_one)
        gc.collect()

    def _process_batch(self, batch_df: DataFrame, _batch_id: int) -> None:
        # whole-file rows; minutely OSC files are small — driver-side parse,
        # then everything downstream is DataFrame algebra
        files = (
            batch_df.select(
                F.input_file_name().alias("path"), F.col("value").alias("content")
            )
            .collect()
        )
        ordered = sorted(files, key=lambda r: sequence_order(r["path"]))
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

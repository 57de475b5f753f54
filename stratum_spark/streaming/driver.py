"""Structured Streaming driver: tail the binlog directory, apply per
micro-batch via foreachBatch.

Exactly-once composition (SURVEY.md §3.4):
  * Spark's streaming checkpoint (offset log / commit log) decides WHICH
    files form micro-batch N and replays the same batch after a crash --
    stratum's cursor resume rules
    (crates/engine-processing/src/state_manager.rs:96-160).
  * The delta table's (job_id, epoch) bookmark commits atomically with the
    epoch's delta files, so a replayed micro-batch is a no-op -- stratum's WAL
    BatchCommit check. Together: replay from any checkpoint converges to
    the identical final table state.

Rate limiting via maxFilesPerTrigger is the analog of the reference's
bounded(64) producer->consumer channel
(crates/engine-runtime/src/execution/orchestrator.rs:30).
"""

from __future__ import annotations

import time

from pyspark.sql.streaming import StreamingQuery

from stratum_spark.cdc.applier import CdcApplier
from stratum_spark.cdc.binlog import BINLOG_DDL


def start_stream(
    applier: CdcApplier,
    binlog_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    processing_time: str = "0 seconds",
) -> StreamingQuery:
    spark = applier.spark
    # epoch-namespace guard: batch backfill numbers epochs by lsn range,
    # streaming by Spark batch_id -- the two sequences are NOT comparable.
    # A stream started against a job_id whose bookmark was written by a
    # BACKFILL would silently skip micro-batches 0..committed_epoch (data
    # loss), so a cross-mode bookmark is rejected; resuming a stream's own
    # bookmark is the normal restart path. The check goes through
    # _check_epoch_mode, which reads the table that OWNS the epoch
    # bookmarks, the delta table -- checking `tokens` would pass
    # vacuously and let the stream silently skip micro-batches
    # 0..committed_epoch.
    applier.epoch_mode = "stream"
    applier._check_epoch_mode()
    feed = (
        spark.readStream.schema(BINLOG_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(binlog_dir)
    )

    def _apply(batch_df, batch_id: int) -> None:
        applier.apply_epoch(batch_df, int(batch_id))

    writer = (
        feed.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"cdc-{applier.job_id}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_stream_until_idle(
    applier: CdcApplier,
    binlog_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    timeout_s: float = 600,
) -> None:
    """Process everything currently in the directory, then stop
    (availableNow trigger drains and terminates)."""
    q = start_stream(
        applier, binlog_dir, checkpoint_dir, max_files_per_trigger, available_now=True
    )
    deadline = time.time() + timeout_s
    while q.isActive and time.time() < deadline:
        q.awaitTermination(5)
    if q.isActive:
        q.stop()
        raise TimeoutError("stream did not drain in time")
    applier.flush_lineage()
    # ratio-policy compaction runs OUTSIDE foreachBatch (the merge's
    # Observation never resolves inside a micro-batch) -- after the drain
    # is the streaming analog of an async compactor pass
    applier.maybe_compact()

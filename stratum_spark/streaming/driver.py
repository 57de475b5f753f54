"""Structured Streaming driver: tail the binlog directory, apply per
micro-batch via foreachBatch.

Exactly-once composition (SURVEY.md §3.4): Spark's checkpoint decides which
files form a micro-batch, and the job resumes from the committed lsn, not a
batch count (stratum's cursor resume rules, crates/engine-processing/src/
state_manager.rs:96-160). Each micro-batch is numbered after the job's last
committed epoch and keeps only rows above the committed lsn, whose bookmark
commits with the epoch's delta files. So a redelivered or regrouped batch
applies nothing, a lost checkpoint is harmless, any --epoch-size or
--max-files is valid, and a stream can continue a backfill's job_id. Feed
contract: lsn is monotone across files; file mtimes follow lsn order (the
file source orders batches by mtime; write_binlog writes them so); equal
lsns are identical re-emissions (the tie contract).

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
    # a lost DLQ flush is restored from a static read of the same files
    applier._dlq_catchup(spark.read.schema(BINLOG_DDL).parquet(binlog_dir))
    feed = (
        spark.readStream.schema(BINLOG_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(binlog_dir)
    )

    def _apply(batch_df, batch_id: int) -> None:
        applier.apply_epoch(batch_df, applier.deltas.committed_epoch(applier.job_id) + 1)

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

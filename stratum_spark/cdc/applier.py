"""The CDC apply loop: change feed -> validate -> LWW dedup -> delta append.

Per-epoch sequence (one micro-batch == one epoch == one atomic lake commit),
the distributed analog of stratum's per-batch consumer protocol
(crates/engine-processing/src/consumer/components/coordinator.rs:61-135):

  1. lsn cursor         -- rows at or below the committed lsn drop out
  2. schema evolution   -- scripted DDL whose position falls inside the
                           epoch is applied to the table first
                           (metadata-only; stratum's 3-phase ordering,
                           crates/engine-schema/src/plan.rs:259-288)
  3. validation split   -- rows violating n_tok == size(tokens) go to the
                           DLQ table, never to the target; the DLQ
                           commits just before the epoch does (stratum
                           validation action 'skip' + failed-row writer,
                           crates/engine-processing/src/transform/
                           failed_row_writer.rs:16-120)
  4. schema-ver mapping -- physical binlog columns -> current table
                           columns per event schema_ver
  5. LWW dedup          -- skew-proof max_by shuffle aggregate
                           (cdc/dedup.py), the one LWW rule on every path
  6. delta append      -- a two-phase append of the deduped change rows
                           to the delta table, whose (job_id, epoch)
                           bookmark commits atomically with the files;
                           the compaction policy later folds the deltas
                           into the base with the lsn-guarded MERGE
  7. lineage + metrics  -- per-delta-file offset ranges + epoch counts
                           appended to the lineage table (FIXTURES.md §4;
                           stratum Batch{cursor,next} + MetricsSnapshot,
                           crates/engine-infra/src/metrics.rs:22-31)

All steps are DataFrame expressions. Every epoch's stats and (capped)
invalid rows ride one Observation on the delta write's own scan, and the
invalid rows reach the DLQ through a driver-side write; the only other
driver-side datum is the max schema_ver of an epoch with pending DDL.
"""

from __future__ import annotations

import json
import logging
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from stratum_spark.cdc.binlog import SCHEMA_EVOLUTION
from stratum_spark.cdc.dedup import lww_dedup
from stratum_spark.lake import LakeTable, MergeStats

log = logging.getLogger(__name__)

# feed-split sizing's epoch byte estimate: fixed per-event bytes (doc_id,
# lsn, ts, op, source, lang, schema_ver + row overhead) plus 4 B per token
EVENT_FIXED_BYTES = 64
# driver-memory bound (~10 MB) on the bad rows one epoch's write
# observation may collect for the DLQ (see _dlq_obs_gate)
_DLQ_OBS_CAP = 100_000
# metadata-table maintenance cadence (see _binpack_and_expire): bin-pack
# lineage and DLQ every _BINPACK_EPOCHS epochs, then expire their history
# down to _META_KEEP versions
_BINPACK_EPOCHS = 64
_META_KEEP = 16

TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string, lsn bigint"
LINEAGE_DDL = (
    "batch_id string, epoch bigint, partition_id int, lsn_min bigint, lsn_max bigint, "
    "rows_in bigint, rows_deduped bigint, rows_inserted bigint, rows_updated bigint, "
    "rows_deleted bigint, rows_dlq bigint, wall_ms bigint, committed_at timestamp"
)
DLQ_DDL = "lsn bigint, doc_id string, rule string, message string, payload string, failed_at timestamp"


@dataclass(frozen=True)
class EpochStats:
    epoch: int
    skipped: bool
    rows_in: int = 0
    rows_dlq: int = 0
    rows_deduped: int = 0
    merge: MergeStats | None = None
    wall_ms: int = 0


class CdcApplier:
    """Owns the target/lineage/DLQ tables and applies change-feed epochs."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        job_id: str = "cdc",
        n_buckets: int = 16,
        evolution: list[dict] | None = None,
        n_events_hint: int | None = None,
        validate: bool = True,
        write_mode: str = "cow",
        auto_compact_ratio: float | None = None,
    ):
        # scale-adaptive feed-scan split sizing (_tune_feed_split): derived
        # per epoch from OBSERVED epoch bytes, never a host-tuned constant
        self._feed_split: int | None = None
        self._feed_bytes_ref: int = 0  # decaying max of observed epoch bytes
        # epoch receipts resolved from the write job's own observation
        # (the zero-extra-job path) vs recomputed from files -- counted so
        # tests can pin that the observation path actually engages
        self._receipts_from_obs = 0
        # Every epoch appends LWW-deduped change rows as DELTA files in one
        # exactly-once commit; readers merge base+deltas with the same LWW
        # rule, and compact_deltas() folds the deltas into the base via the
        # ordinary MERGE. The hot path writes O(batch), not O(table).
        # Compaction POLICY: when auto_compact_ratio is set, deltas are
        # folded as soon as delta rows exceed ratio x base rows (metadata
        # row counts -- no Spark job), so read-merge cost is bounded by
        # policy rather than caller discipline (the reference's automatic
        # write fast-path selection, consumer/components/writer.rs:54-111,
        # makes the same kind of decision per batch). None = manual
        # compact_deltas()/compact_every only. write_mode 'cow'
        # (copy-on-write) is a policy preset, not a second engine: it means
        # auto_compact_ratio=0.0, so the deltas fold after every backfill
        # epoch and every stream drain and the base alone holds the state.
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"unknown write_mode {write_mode}")
        if write_mode == "cow":
            if auto_compact_ratio is not None:
                raise ValueError(
                    "write_mode='cow' is auto_compact_ratio=0.0; pass "
                    "write_mode='mor' to choose another ratio"
                )
            auto_compact_ratio = 0.0
        self.auto_compact_ratio = auto_compact_ratio
        self.compactions_run = 0
        self.spark = spark
        self.warehouse = os.path.abspath(warehouse)
        self.job_id = job_id
        self.validate = validate
        # scripted DDL positions (absolute lsn) -- in production these would
        # arrive as schema-change events in the feed itself
        self.evolution: list[dict] = []
        if evolution is not None:
            self.evolution = evolution
        elif n_events_hint:
            self.evolution = [
                {
                    "lsn": int(s["at_frac"] * n_events_hint),
                    "ver": s["ver"],
                    "action": s["action"],
                    "args": s["args"],
                }
                for s in SCHEMA_EVOLUTION
            ]

        tok_root = os.path.join(self.warehouse, "tokens")
        lin_root = os.path.join(self.warehouse, "lineage")
        dlq_root = os.path.join(self.warehouse, "dlq")
        if LakeTable.exists(tok_root):
            self.tokens = LakeTable.load(spark, tok_root)
            if self.tokens.snapshot().schema.field_by_name("tokens").type == "binary":
                raise ValueError(
                    f"{tok_root}: tokens column is packed binary; only "
                    "array<int> token tables are supported"
                )
        else:
            self.tokens = LakeTable.create(
                spark, tok_root, TOKENS_DDL, key="doc_id", n_buckets=n_buckets,
                properties={"schema_ver": "0"},
            )
        self.lineage = (
            LakeTable.load(spark, lin_root)
            if LakeTable.exists(lin_root)
            else LakeTable.create(spark, lin_root, LINEAGE_DDL, n_buckets=1)
        )
        self.dlq = (
            LakeTable.load(spark, dlq_root)
            if LakeTable.exists(dlq_root)
            else LakeTable.create(spark, dlq_root, DLQ_DDL, n_buckets=1)
        )
        # delta table: the base's schema + the change op, bucketed on the
        # same key expression so compaction's merge and the read-path union
        # stay co-partitioned. It holds the exactly-once epoch bookmarks.
        del_root = os.path.join(self.warehouse, "tokens_deltas")
        if LakeTable.exists(del_root):
            self.deltas = LakeTable.load(spark, del_root)
        else:
            # a warehouse written by the earlier copy-on-write engine keeps
            # its job bookmarks on the base: the delta table's first commit
            # carries them (not the compactor's own), so a resume continues
            # instead of replaying
            base = self.tokens.snapshot()
            self.deltas = LakeTable.create(
                spark, del_root, base.schema.ddl() + ", op string",
                key="doc_id", n_buckets=base.n_buckets,
                committed={
                    j: m for j, m in base.committed.items()
                    if not j.endswith("::compact")
                },
            )
        # lineage appends run on a dedicated single worker thread: they are
        # off the epoch critical path (nothing in the loop reads lineage)
        # and the single thread serializes snapshot commits on the lineage
        # table. Futures are drained by flush_lineage()/run_backfill.
        from concurrent.futures import ThreadPoolExecutor

        self._lineage_pool = ThreadPoolExecutor(max_workers=1)
        self._lineage_futures: list = []
        # last epoch's DLQ row count: gates whether the next epoch's DLQ
        # rides the write observation (see _dlq_obs_gate)
        self._last_bad_count: int | None = None

    def flush_lineage(self) -> None:
        """Block until all queued lineage/receipt writes have committed;
        re-raise the first failure."""
        futs, self._lineage_futures = self._lineage_futures, []
        for f in futs:
            f.result()

    def _binpack_and_expire(self, table) -> dict:
        """Periodic metadata-table maintenance, run on the thread that
        appends to the table (serialized with its appends): bin-pack the
        per-epoch small files (driver-side pyarrow path -- zero Spark
        jobs), then expire history down to _META_KEEP versions so the
        superseded pre-pack files and the per-epoch
        version JSONs actually leave the disk. Applied only to the
        append-only metadata tables (lineage, DLQ) whose old versions
        carry no time-travel value -- the data tables (tokens, deltas)
        keep full history for rollback/read_changes and are expired only
        explicitly (CLI gc --expire-keep)."""
        from stratum_spark.lake.table import CommitConflict

        try:
            r = table.compact_binpack(
                small_file_bytes=8 << 20, target_file_bytes=64 << 20
            )
            r.update(table.expire_snapshots(keep_last=_META_KEEP))
            return r
        except CommitConflict:
            # maintenance is best-effort: a lost race (external writer on
            # the same table) must never fail the ingest -- next cadence
            # retries from a fresh snapshot
            return {"skipped": "commit_conflict"}

    # ------------------------------------------------------------------
    def _tune_feed_split(self, epoch_bytes: int) -> None:
        """Scale-ADAPTIVE scan-split sizing (guide §6 input-split size,
        read through the §2 lens: the epoch scan's decode parallelism is
        bounded by bytes/split). A WAL feed often arrives as a handful of
        large segment files; at the default 128 MB split each segment is
        one task, so a bounded epoch's parquet decode runs ~4-wide while
        the rest of the box idles (measured 309k -> 438k ev/s steady at
        16 cores from fixing exactly this). Derive the split from the
        OBSERVED epoch bytes so each epoch scan yields roughly 2 tasks
        per core -- the sizing tracks epoch shape, not this host -- and
        clamp to [8 MB, 128 MB]: cluster-scale epochs (10^7+ events)
        keep large sequential splits per the guide's large-scan advice,
        and the floor matches write_binlog's 8 MB row groups (splits
        below the row-group size read nothing). Session-wide conf, which
        is intended: compaction reads the same segments-worth of delta
        bytes and wants the same decode parallelism. Runs from the first
        WARM epoch (epoch 0 has no observation -- it is also the JVM
        warmup everywhere this is measured); re-set only on >=2x drift
        so the conf isn't churned every epoch.

        Hysteresis: the split is sized from a DECAYING MAX of observed
        epoch bytes, and epochs below a quarter of that reference are
        ignored outright -- a catch-up stream alternating tiny heartbeat
        epochs with full ones must not clamp the session to 8 MB splits
        right before a 10 GB epoch plans its scan. A genuinely shrinking
        workload still adapts: the reference decays 10%/epoch, so ~20
        consistently-small epochs re-size it downward."""
        self._feed_bytes_ref = max(
            int(epoch_bytes), int(0.9 * self._feed_bytes_ref)
        )
        if epoch_bytes < self._feed_bytes_ref // 4:
            return  # unrepresentative (tail/heartbeat) epoch
        par = max(self.spark.sparkContext.defaultParallelism, 1)
        want = max(
            8 << 20, min(128 << 20, self._feed_bytes_ref // (2 * par))
        )
        if self._feed_split is None or not (
            0.5 < want / self._feed_split < 2.0
        ):
            self.spark.conf.set(
                "spark.sql.files.maxPartitionBytes", str(want)
            )
            self._feed_split = want

    def _table_schema_ver(self) -> int:
        return int(self.tokens.snapshot().properties.get("schema_ver", "0"))

    def _evolve_to(self, target_ver: int) -> None:
        cur = self._table_schema_ver()
        for step in sorted(self.evolution, key=lambda s: s["ver"]):
            if cur < step["ver"] <= target_ver:
                getattr(self.tokens, step["action"])(*step["args"])
                # delta schema evolves in lockstep (same column names), so
                # base ∪ deltas unions cleanly at read time
                getattr(self.deltas, step["action"])(*step["args"])
                self.tokens.set_properties({"schema_ver": str(step["ver"])})
                cur = step["ver"]

    def _source_col_name(self) -> str:
        """Current name of the original 'source' column (rename-aware)."""
        names = set(self.tokens.snapshot().schema.names)
        return "corpus" if "corpus" in names else "source"

    # ------------------------------------------------------------------
    # DLQ (exactly-once side channel)
    # ------------------------------------------------------------------
    @staticmethod
    def _bad_pred():
        return (F.col("op") != "D") & ~F.col("n_tok").eqNullSafe(F.size("tokens"))

    @staticmethod
    def _dlq_cols() -> list:
        """The DLQ row shape over raw feed rows, shared by the feed-scan
        frame and the write observation's collected rows, so both routes
        write identical DLQ rows."""
        return [
            F.col("lsn"),
            F.col("doc_id"),
            F.lit("n_tok_mismatch").alias("rule"),
            F.format_string(
                "n_tok=%s != size(tokens)=%s", F.col("n_tok"), F.size("tokens")
            ).alias("message"),
            F.to_json(F.struct("lsn", "op", "doc_id", "n_tok", "schema_ver")).alias(
                "payload"
            ),
            F.current_timestamp().alias("failed_at"),
        ]

    def _dlq_frame(self, events: DataFrame) -> DataFrame:
        return events.where(self._bad_pred()).select(*self._dlq_cols())

    def _dlq_obs_gate(self) -> bool:
        """Should the NEXT epoch's DLQ ride the write job's observation?
        The collected rows land in driver memory, so once an epoch's
        bad-row count exceeds _DLQ_OBS_CAP the following epochs take the
        scan path until one comes in under it again (the over-cap epoch
        itself is a one-time spike -- collect_list has no mid-flight
        cutoff). Per-task partials are bounded by per-task bad rows."""
        return (self._last_bad_count or 0) <= _DLQ_OBS_CAP

    def _append_dlq_rows(self, rows, epoch: int, lsn_max: int) -> int:
        """Exactly-once DLQ append of the DLQ rows the write observation
        collected: written driver-side with pyarrow (no Spark job, no feed
        scan) and committed with the same (job_id, epoch, lsn_max)
        bookmark as _append_dlq_epoch."""
        if epoch <= self.dlq.committed_epoch(self.job_id):
            return 0  # replayed: write no file the commit would orphan
        return self.dlq.commit_epoch_files(
            self.dlq.write_local_files([r.asDict() for r in rows]),
            job_id=self.job_id,
            epoch=epoch,
            lsn_max=lsn_max,
        )

    def _append_dlq_epoch(self, events: DataFrame, epoch: int, lsn_max: int) -> int:
        """Exactly-once DLQ append of the feed rows' invalid rows (the
        feed-scan route): the failed rows commit with a
        (job_id, epoch, lsn_max) bookmark on the DLQ table itself, so a
        replayed epoch's DLQ write is a no-op (no duplicates after a crash
        between the DLQ commit and the epoch commit, which follows it on
        the same thread). The opposite window -- epoch committed, DLQ lost
        -- is closed by _dlq_catchup. The bookmark advances even for epochs
        with zero failed rows, so catch-up never rescans clean epochs."""
        return self.dlq.append_epoch(
            self._dlq_frame(events),
            job_id=self.job_id,
            epoch=epoch,
            lsn_max=lsn_max,
            clustered=False,
        )

    def _dlq_catchup(self, feed: DataFrame) -> None:
        """Restore a lost DLQ flush: if the DLQ bookmark lags the deltas',
        one feed-scan append of the invalid rows in (DLQ lsn_max, delta
        lsn_max] under the delta table's committed epoch."""
        if not self.validate:
            return
        epoch, hi = self._cursor(self.deltas)
        if self.dlq.committed_epoch(self.job_id) >= epoch:
            return
        lo = self._cursor(self.dlq)[1]
        rows = feed.where(F.col("lsn") <= hi)
        self._append_dlq_epoch(rows if lo is None else rows.where(F.col("lsn") > lo), epoch, hi)

    def pause_requested(self) -> bool:
        """The CLI's `pause` verb drops a marker file in the warehouse;
        the backfill loops check it between epochs and stop after the
        current atomic epoch commit (stratum's graceful pause,
        crates/cli/src/commands/pause.rs)."""
        return os.path.exists(os.path.join(self.warehouse, "_PAUSE"))

    # ------------------------------------------------------------------
    def apply_epoch(self, events: DataFrame, epoch: int) -> EpochStats:
        """One epoch end-to-end: prepare (DDL, validate, dedup, the write's
        Observations) then commit (delta write, DLQ append, delta commit,
        queued lineage rows and receipt). Split so the backfill loop can
        PIPELINE: prepare and write epoch N+1 while committing epoch N --
        commits stay strictly ordered, preparation depends only on the
        feed. While scripted DDL is pending the path stays serial (column
        mapping depends on the evolving table schema; the reference applies
        schema ops strictly before data, crates/engine-schema/src/plan.rs:259-288).
        """
        return self._commit_epoch(self._prepare_epoch(events, epoch))

    def _cursor(self, table: LakeTable) -> tuple[int, int | None]:
        """The job's (committed epoch, committed lsn) on table, from its
        snapshot metadata; (-1, None) for a new job. The lsn is the one
        resume cursor; the epoch only numbers the next commit."""
        mark = table.snapshot().committed.get(self.job_id, {"epoch": -1})
        if mark["epoch"] >= 0 and mark.get("lsn_max") is None:
            raise ValueError(f"{table.root}: job_id {self.job_id!r} bookmark at epoch "
                             f"{mark['epoch']} has no lsn_max; it cannot resume by lsn")
        return mark["epoch"], mark.get("lsn_max")

    def evolution_pending(self) -> bool:
        return bool(self.evolution) and self._table_schema_ver() < max(
            s["ver"] for s in self.evolution
        )

    def _prepare_epoch(self, events: DataFrame, epoch: int) -> dict:
        """First half of the epoch: apply pending scripted DDL, map columns,
        LWW dedup, and attach the epoch's Observations to the delta write.
        Returns the prepared state for _commit_epoch. Only rows above the
        committed lsn are kept, so a redelivered or regrouped batch is
        empty and _commit_epoch skips it.

        Every epoch runs the same path. One Observation on the raw feed
        slice rides the delta write's own scan and yields the epoch's
        stats and, under _DLQ_OBS_CAP, its invalid rows; a second one on
        the deduped batch yields the receipt digest. The one extra job is
        a max(schema_ver) probe, run only while scripted DDL is pending:
        the column mapping depends on it. The feed slice is re-decoded per
        consumer (measured faster than caching it, BASELINE.md round 3),
        and the deduped batch is consumed only by the write, so it stays
        lazy."""
        from stratum_spark.verify.hashing import (
            canonical_hash_col,
            commutative_digest_aggs,
        )

        t0 = time.time()
        done_lsn = self._cursor(self.deltas)[1]
        if done_lsn is not None:
            events = events.where(F.col("lsn") > done_lsn)
        if self.evolution_pending():
            ver = events.agg(F.max("schema_ver")).first()[0]
            if ver is not None:  # None: an empty slice
                self._evolve_to(int(ver))

        bad_pred = self._bad_pred()
        # upstream of the validation filter, so it counts every raw row
        aggs = [
            F.count(F.lit(1)).alias("rows_in"),
            F.min("lsn").alias("lsn_min"),
            F.max("lsn").alias("lsn_max"),
            F.sum("n_tok").alias("sum_tok"),
        ]
        if self.validate and self._dlq_obs_gate():
            # the epoch's (rare, bad_frac-bounded) invalid rows ride the
            # same observation as finished DLQ rows: the write already
            # decodes the token column and evaluates bad_pred, so the DLQ
            # append writes them driver-side instead of re-scanning the feed
            aggs.append(
                F.collect_list(F.when(bad_pred, F.struct(*self._dlq_cols())))
                .alias("bad_rows")
            )
        # only the write plan carries the observation; the fallbacks in
        # _commit_epoch re-read the raw slice -- an Observation may appear
        # in only one executed query
        obs_stats = Observation(f"stats_{epoch}_{time.monotonic_ns()}")
        good = events.observe(obs_stats, *aggs)
        if self.validate:
            good = good.where(~bad_pred)

        # schema_ver -> current-columns mapping
        src_name = self._source_col_name()
        cols = [
            F.col("doc_id"),
            F.col("op"),
            F.col("lsn"),
            F.col("tokens"),
            F.col("n_tok"),
            F.col("source").alias(src_name),
        ]
        if self._table_schema_ver() >= 1:
            cols.append(F.when(F.col("schema_ver") >= 1, F.col("lang")).alias("lang"))
        mapped = good.select(*cols)

        # LWW dedup: consumed once (by the delta write), so it stays lazy
        # and the receipt digest observation fires on that same scan. The
        # shuffle aggregate keeps one row per key, so delta files are
        # (doc_id, lsn)-unique.
        deduped = lww_dedup(mapped, key="doc_id", order_col="lsn")
        # the per-epoch batch receipt (commutative digest over the applied
        # change rows), mirroring the reference's in-run receipt persistence
        # (crates/engine-processing/src/producer/components/integrity.rs:75-89)
        receipt_obs = Observation(f"receipt_{epoch}_{time.monotonic_ns()}")
        deduped = deduped.observe(
            receipt_obs, *commutative_digest_aggs(canonical_hash_col(deduped))
        )
        return {
            "epoch": epoch,
            "t0": t0,
            "events": events,
            "deduped": deduped,
            "obs_stats": obs_stats,
            "receipt_obs": receipt_obs,
        }

    def _write_deltas(self, deduped: DataFrame) -> list:
        """Phase 1 of the two-phase delta append: write the epoch's files,
        invisible until commit_epoch_files. clustered=False: delta files
        are never bucket-pruned; stats_cols records per-file lsn bounds
        from the footers the manifest pass already reads."""
        return self.deltas.write_epoch_files(deduped, clustered=False, stats_cols=("lsn",))

    def _commit_epoch(self, prep: dict) -> EpochStats:
        """Second half of the epoch: the DLQ append, then the delta commit
        (atomic lake commit with the epoch bookmark), then the queued
        lineage rows and receipt. Must run in epoch order: the DLQ's
        exactly-once bookmark is monotonic, so an epoch whose DLQ commit
        landed after a later epoch's would lose its rows for good."""
        epoch, events = prep["epoch"], prep["events"]
        entries = prep.get("entries")
        if entries is None:
            entries = self._write_deltas(prep["deduped"])
        stats = self._observed(prep["obs_stats"])
        if stats is None:
            # listener event lost (never observed in practice) --
            # recompute with one explicit aggregation job
            stats = self._epoch_stats_job(events)
        rows_in = int(stats["rows_in"] or 0)
        if rows_in == 0:
            return EpochStats(epoch=epoch, skipped=True)
        lsn_max, sum_tok = int(stats["lsn_max"]), int(stats["sum_tok"] or 0)
        n_dlq = 0
        if self.validate:
            # the observed DLQ rows are written driver-side; an over-cap
            # epoch or a lost event rebuilds them from the feed
            bad = stats.get("bad_rows")
            n_dlq = (
                self._append_dlq_epoch(events, epoch, lsn_max) if bad is None
                else self._append_dlq_rows(bad, epoch, lsn_max)
            )
            # gates the NEXT epoch's dlq-via-observation attachment
            self._last_bad_count = n_dlq
        t_commit = time.time()
        n_appended = self.deltas.commit_epoch_files(
            entries,
            job_id=self.job_id,
            epoch=epoch,
            lsn_max=lsn_max,
        )
        mstats = MergeStats(
            rows_inserted=n_appended,
            wall_ms=int((time.time() - t_commit) * 1000),
        )

        wall_ms = int((time.time() - prep["t0"]) * 1000)
        batch_id = f"{self.job_id}-{epoch:08d}"
        from datetime import datetime, timezone

        now = datetime.now(timezone.utc).replace(tzinfo=None)
        # per-FILE offset ranges: the lsn bounds come from the parquet
        # footer statistics the manifest pass already read
        # (FileEntry.stats), so the detail rows are physical provenance --
        # delta file -> (lsn_min, lsn_max, rows) -- at zero extra jobs.
        # partition_id numbers the epoch's files.
        spans = [
            (i, *((e.stats or {}).get("lsn") or (None, None)), e.rows)
            for i, e in enumerate(entries)
        ]
        lineage_rows = [
            {
                "batch_id": batch_id,
                "epoch": epoch,
                "partition_id": pid,
                "lsn_min": None if lo is None else int(lo),
                "lsn_max": None if hi is None else int(hi),
                "rows_in": int(n),
                "committed_at": now,
            }
            for pid, lo, hi, n in spans
        ]
        self._tune_feed_split(rows_in * EVENT_FIXED_BYTES + sum_tok * 4)
        lineage_rows.append(
            {
                "batch_id": batch_id,
                "epoch": epoch,
                "partition_id": -1,
                "lsn_min": None,
                "lsn_max": lsn_max,
                "rows_in": rows_in,
                "rows_deduped": n_appended,
                "rows_inserted": mstats.rows_inserted,
                "rows_updated": mstats.rows_updated,
                "rows_deleted": mstats.rows_deleted,
                "rows_dlq": n_dlq,
                "wall_ms": wall_ms,
                "committed_at": now,
            }
        )
        # lineage + the epoch receipt are off the critical path: queued to
        # the applier's single lineage worker (ordering preserved; commit
        # conflicts impossible -- one writer thread per table)
        self._lineage_futures.append(
            self._lineage_pool.submit(self.lineage.append_local, lineage_rows)
        )
        # auto small-file maintenance: lineage and the DLQ accrete one tiny
        # file per epoch, so a 10^5-epoch job would leave 10^5 files and
        # O(files) snapshot JSON. Every _BINPACK_EPOCHS epochs each table
        # is bin-packed by its own writer -- the lineage worker, and this
        # thread for the DLQ -- on the driver-side pyarrow fast path (same
        # schema, KB-sized files): zero Spark jobs, no race with the
        # appends. Bookmarks live in snapshot.committed, which rewrites
        # carry over, so exactly-once replay suppression is unaffected.
        if epoch > 0 and epoch % _BINPACK_EPOCHS == 0:
            self._lineage_futures.append(
                self._lineage_pool.submit(self._binpack_and_expire, self.lineage)
            )
            self._binpack_and_expire(self.dlq)
        # the receipt's observation is read with a NON-BLOCKING poll on the
        # lineage worker (measured on Spark 4.1: the listener event does
        # deliver, inside foreachBatch too); a lost event falls back to a
        # recompute from the epoch's immutable committed delta files
        paths = [os.path.join(self.deltas.root, e.path) for e in entries]
        self._lineage_futures.append(
            self._lineage_pool.submit(
                self._epoch_receipt, epoch, prep["receipt_obs"], paths
            )
        )

        return EpochStats(
            epoch=epoch,
            skipped=False,
            rows_in=rows_in,
            rows_dlq=n_dlq,
            rows_deduped=n_appended,
            merge=mstats,
            wall_ms=wall_ms,
        )

    @staticmethod
    def _observed(obs, timeout_s: float = 30.0, poll_s: float = 0.01) -> dict | None:
        """Non-blocking read of an Observation: poll the JVM side's
        getOrEmpty until the QueryExecutionListener event lands (it is
        posted asynchronously, so a beat after the action returns is
        normal) or the deadline passes. Returns the metrics dict, or None
        on timeout or error, logged as a warning that names the cause --
        callers fall back to an explicit recompute, so a lost event
        degrades to one extra job instead of a parked thread."""
        deadline = time.time() + timeout_s
        while True:
            try:
                if obs._jo.getOrEmpty().size() > 0:
                    return dict(obs.get)
            except Exception as e:
                log.warning("Observation %s failed: %s: %s", obs._name, type(e).__name__, e,
                            exc_info=True)
                return None
            if time.time() >= deadline:
                log.warning("Observation %s timed out after %.0f s", obs._name, timeout_s)
                return None
            time.sleep(poll_s)

    def _epoch_stats_job(self, events: DataFrame) -> dict:
        """Fallback epoch stats (one explicit aggregation job) for the
        never-observed case where the stats observation's listener event
        is lost."""
        return events.agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.min("lsn").alias("lsn_min"),
            F.max("lsn").alias("lsn_max"),
            F.sum("n_tok").alias("sum_tok"),
        ).first().asDict()

    def _epoch_receipt(self, epoch: int, obs, paths: list[str]) -> None:
        """Epoch receipt, on the lineage worker: prefer the write job's own
        observation (zero extra jobs); if its event hasn't landed within
        the grace window, recompute from the epoch's immutable committed
        delta files (one off-path job, the same recompute
        verify_epoch_receipts performs)."""
        row = self._observed(obs, timeout_s=10.0)
        if row is not None:
            self._receipts_from_obs += 1  # zero-extra-job path (observability)
            self._write_epoch_receipt(epoch, row)
        else:
            self._receipt_from_files(epoch, paths)

    def _receipt_from_files(self, epoch: int, paths: list[str]) -> None:
        """Fallback receipt: recompute the commutative digest from the
        epoch's just-committed delta files (immutable; exactly the deduped
        rows the write materialized) and persist it. Runs on the lineage
        worker -- off the epoch's critical path. An epoch whose
        valid rows all filtered out has no files and a canonical zero
        digest."""
        from stratum_spark.verify.hashing import (
            canonical_hash_col,
            commutative_digest_aggs,
        )

        if paths:
            df = self.spark.read.parquet(*paths)
            row = df.agg(*commutative_digest_aggs(canonical_hash_col(df))).first()
        else:
            row = {
                **{f"x{i}": 0 for i in range(4)},
                **{f"s{i}": 0 for i in range(4)},
                "n": 0,
            }
        self._write_epoch_receipt(epoch, row)

    def _write_epoch_receipt(self, epoch: int, digest_row) -> None:
        """Persist the epoch's batch receipt (commutative digest over the
        applied change rows) -- the distributed analog of the reference's
        per-batch receipt persistence during apply (integrity.rs:75-89)."""
        from stratum_spark.verify.hashing import digest_row_to_root

        # receipts are partitioned per job_id: epoch numbers are per job
        # (a backfill and a stream continuing it share one sequence, since
        # both resume from the committed lsn; any epoch size is valid), so
        # a flat epoch-keyed file would let another job's epoch-0 receipt
        # overwrite this one's
        rdir = os.path.join(self.warehouse, "tokens", "_meta", "receipts", self.job_id)
        os.makedirs(rdir, exist_ok=True)
        payload = {
            "epoch": epoch,
            "job_id": self.job_id,
            "n_rows": int(digest_row["n"]),
            "root": digest_row_to_root(digest_row),
        }
        path = os.path.join(rdir, f"epoch-{epoch:08d}.json")
        tmp = path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, path)

    def verify_epoch_receipts(self) -> list[dict]:
        """Per-BATCH receipt verification -- the reference's batch-boundary
        verify mode (engine-verify/src/verifier.rs:207-252) recast for the
        lake: each epoch's own delta files are located via snapshot-history
        diffs on the delta table (every exactly-once append is one snapshot
        carrying its epoch bookmark), the commutative digest is recomputed
        over exactly those rows under the schema AT THAT VERSION, and the
        root is compared to the receipt persisted during apply. Tampering
        with any applied batch flips its epoch to 'mismatch'. Epochs whose
        physical files were removed by snapshot expiry report
        'missing_files' -- the receipt remains the durable record."""
        from stratum_spark.verify.hashing import (
            canonical_hash_col,
            commutative_digest_aggs,
            digest_row_to_root,
        )

        # epoch -> (new file entries, snapshot) from the history diffs.
        # The diff baseline is the FIRST RETAINED snapshot, not an empty
        # set: if expire_snapshots removed early append snapshots without a
        # prior compaction, that first snapshot already carries the
        # cumulative file set of every expired epoch -- diffing it against
        # empty would attribute all of it to one epoch and raise a false
        # tamper alarm. Epochs at or below the truncated baseline are
        # unattributable and report 'no_files_recorded'.
        history = self.deltas.history()
        if not history:
            return []
        first = history[0]
        baseline_epoch = first.committed.get(self.job_id, {}).get("epoch", -1)
        by_epoch: dict[int, tuple[list, object]] = {}
        prev_files: set[str] = {e.path for e in first.files}
        prev_epoch = baseline_epoch
        for snap in history[1:]:
            cur_epoch = snap.committed.get(self.job_id, {}).get("epoch", -1)
            paths = {e.path for e in snap.files}
            if cur_epoch > prev_epoch:
                new = [e for e in snap.files if e.path not in prev_files]
                by_epoch[cur_epoch] = (new, snap)
            prev_files, prev_epoch = paths, max(prev_epoch, cur_epoch)
        out = []
        for rec in self.epoch_receipts():
            ep = rec["epoch"]
            entry = by_epoch.get(ep)
            if entry is None or (not entry[0] and int(rec["n_rows"]) > 0):
                # unattributable: the snapshot chain for this epoch was
                # expired (or truncated history starts after it)
                out.append({"epoch": ep, "status": "no_files_recorded"})
                continue
            entries, snap = entry
            missing = [
                e.path for e in entries
                if not os.path.isfile(os.path.join(self.deltas.root, e.path))
            ]
            if missing:
                out.append({"epoch": ep, "status": "missing_files", "paths": missing})
                continue
            df = self.deltas._read_entries(entries, snap)
            row = df.agg(*commutative_digest_aggs(canonical_hash_col(df))).first()
            ok = (
                int(row["n"]) == int(rec["n_rows"])
                and digest_row_to_root(row) == rec["root"]
            )
            out.append(
                {"epoch": ep, "status": "ok" if ok else "mismatch",
                 "n_rows": int(row["n"]), "expected_rows": int(rec["n_rows"])}
            )
        return out

    def epoch_receipts(self) -> list[dict]:
        """This job's persisted per-epoch batch receipts, in epoch order."""
        rdir = os.path.join(self.warehouse, "tokens", "_meta", "receipts", self.job_id)
        if not os.path.isdir(rdir):
            return []
        out = []
        for fn in sorted(os.listdir(rdir)):
            if fn.startswith("epoch-") and fn.endswith(".json"):
                with open(os.path.join(rdir, fn)) as fh:
                    out.append(json.load(fh))
        return out

    # ------------------------------------------------------------------
    def run_backfill(
        self,
        binlog_path: str,
        epoch_size: int = 10_000,
        stop_after: int | None = None,
        pipelined: bool = False,
        compact_every: int | None = None,
    ) -> list[EpochStats]:
        """Batch-mode apply: the feed is consumed as consecutive lsn-range
        epochs (keyset pagination generalized -- stratum Cursor::Numeric,
        crates/model/src/pagination/cursor.rs:43-47). Resumes from the
        committed lsn; any epoch_size is valid. `stop_after` epochs
        simulates a crash/pause for kill-and-resume tests
        (crates/engine-tests/src/resume.rs:50-127).

        pipelined=True overlaps epoch N+1's preparation and its delta-file
        write with epoch N's commit -- commits stay
        strictly ordered, so exactly-once and replay semantics are
        unchanged. The prefetch pauses while scripted schema evolution is
        still pending (column mapping must see the table schema its own
        prepare produced). Either way the epochs run through one loop that
        shares the feed, the DLQ catch-up, pause, `stop_after`, the
        compaction policy (compact_deltas every `compact_every` epochs,
        else maybe_compact) and the final lineage flush; without
        pipelining each epoch is one apply_epoch call. Off by default: on
        a single box the serial loop already saturates the usable cores,
        and concurrent prepare/commit jobs contend; on a cluster with
        separate executors the overlap buys up to the prepare fraction of
        the epoch."""
        from concurrent.futures import ThreadPoolExecutor

        feed = self.spark.read.parquet(binlog_path)
        lo, hi = feed.agg(F.min("lsn"), F.max("lsn")).first()
        done_epoch, done_lsn = self._cursor(self.deltas)
        lo = lo if done_lsn is None else done_lsn + 1
        starts = range(lo, hi + 1, epoch_size)[:stop_after] if hi is not None else ()
        epochs = [(done_epoch + 1 + i, feed.where(F.col("lsn").between(s, s + epoch_size - 1)))
                  for i, s in enumerate(starts)]
        self._dlq_catchup(feed)  # a lost DLQ flush, before any new epoch

        def prep_and_write(ep: int, events: DataFrame):
            """Prefetch body: prepare the epoch AND run its delta-file
            WRITE (phase 1 of the two-phase append), so only the ordered
            bookmark commit remains on the main thread. Files written here
            are invisible until committed, so a crash orphans them
            harmlessly and exactly-once is untouched."""
            prep = self._prepare_epoch(events, ep)
            prep["entries"] = self._write_deltas(prep["deduped"])
            return prep

        out: list[EpochStats] = []
        next_prep = None
        with ThreadPoolExecutor(max_workers=1) as prefetcher:
            for i, (ep, events) in enumerate(epochs):
                if self.pause_requested():
                    break
                if not pipelined:
                    out.append(self.apply_epoch(events, ep))
                else:
                    prep = next_prep.result() if next_prep is not None else prep_and_write(ep, events)
                    next_prep = None
                    if i + 1 < len(epochs) and not self.evolution_pending():
                        next_prep = prefetcher.submit(prep_and_write, *epochs[i + 1])
                    out.append(self._commit_epoch(prep))
                # safe between commits even with the next prepare+write in
                # flight: prepare reads only the feed and the epoch
                # bookmark, which compaction's truncate preserves, and
                # uncommitted delta files are invisible to the compactor
                if compact_every and (i + 1) % compact_every == 0:
                    self.compact_deltas()
                else:
                    self.maybe_compact()
        self.flush_lineage()
        return out

    # ------------------------------------------------------------------
    def state(self) -> DataFrame:
        """Current user-facing table state (system lsn column dropped).

        Merge-on-read: the base (implicit op='U') unions the delta files
        and the SAME LWW rule the writer uses resolves each key to its
        highest-lsn row; 'D' winners drop out. One hash aggregate over
        base+deltas, co-bucketed on the key. The compaction policy bounds
        the delta fraction, exactly like Iceberg v2 read-merge +
        rewrite_data_files; on a folded table the base is read as is."""
        return self.state_with_lsn().drop("lsn")

    def _merge_on_read(self, base_of, doc_id=None) -> DataFrame:
        """LWW-resolve the pinned deltas (only doc_id's rows, if given)
        over base_of(), the base read. The deltas are pinned FIRST:
        compact_deltas() commits the base before it truncates the deltas,
        so a reader racing it sees at worst the folded rows twice (base
        and deltas) -- harmless under LWW -- and never neither. With no
        pinned delta files the base read is the state as is: same columns
        in the same order as the LWW path, without its shuffle."""
        snap = self.deltas.snapshot()
        base = base_of()
        if not snap.files:
            return base
        deltas = self.deltas.read(version=snap.version)
        if doc_id is not None:
            deltas = deltas.where(F.col("doc_id") == doc_id)
        merged = lww_dedup(
            base.withColumn("op", F.lit("U")).unionByName(deltas),
            key="doc_id", order_col="lsn",
        )
        return merged.where(F.col("op") != "D").drop("op")

    def state_with_lsn(self) -> DataFrame:
        return self._merge_on_read(self.tokens.read)

    def lookup(self, doc_id) -> DataFrame:
        """Point lookup of one document's CURRENT row -- same user-facing
        semantics as state() restricted to the key, priced for 100 TB:
        the base read touches only the one hash bucket's files
        (LakeTable.lookup: driver-side XXH64 bucket prune + key stats
        prune, zero jobs before the read); the (compaction-bounded) delta
        set is scanned with the key predicate pushed to the parquet reader
        and resolved by the writer's own LWW rule, so an uncompacted
        delete or update is visible immediately."""
        return self._merge_on_read(
            lambda: self.tokens.lookup(doc_id), doc_id
        ).drop("lsn")

    def sync_out(self, url: str, target_table: str, **kw) -> dict:
        """Propagate the engine's current state to a JDBC database
        (cdc/sync_out.py) -- the reference's migrate-into-database
        direction, incremental. It folds the deltas first: compaction is
        the state-materialization point, and the base table's
        read_changes then carries exactly the net diff a downstream
        database needs."""
        from stratum_spark.cdc.sync_out import sync_to_jdbc

        self.compact_deltas()
        return sync_to_jdbc(
            self.spark, self.tokens, url, target_table,
            job_id=kw.pop("job_id", f"{self.job_id}::sync"), **kw,
        )

    def verify_sync_target(self, url: str, target_table: str, **kw) -> dict:
        """Per-key verification of a sync-out target against the engine's
        base table (the reference's source-vs-destination validation,
        egress direction). Uses the same egress mapping sync_out ships
        with, so a clean sync verifies clean."""
        from stratum_spark.cdc.sync_out import verify_target

        return verify_target(self.spark, self.tokens, url, target_table, **kw)

    def remove_orphans(self, grace_sec: float = 3600.0) -> dict:
        """Sweep orphaned (written-but-never-committed) data files from
        every table this applier owns — base, deltas, DLQ, lineage. Crash
        windows in the two-phase protocol and exactly-once-skipped replays
        both orphan phase-1 files by design (correctness-harmless, storage-
        costing); this is the maintenance verb that reclaims them. Safe to
        run while a backfill is live: files younger than grace_sec and dirs
        holding in-progress Spark staging are never touched (see
        LakeTable.remove_orphaned_files). Returns per-table counts."""
        tables = {"tokens": self.tokens, "lineage": self.lineage, "dlq": self.dlq,
                  "tokens_deltas": self.deltas}
        return {
            name: t.remove_orphaned_files(grace_sec=grace_sec)
            for name, t in tables.items()
        }

    def maybe_compact(self) -> MergeStats | None:
        """Ratio-policy compaction: fold deltas into the base when delta
        rows exceed auto_compact_ratio x base rows. Row counts come from
        snapshot metadata sums (O(1) driver-side, no Spark job). With an
        empty base the first applied epoch triggers the fold (the initial
        load becomes the base immediately). Batch apply loop only --
        streaming compaction must run OUTSIDE foreachBatch (the merge's
        Observation never resolves there); run_stream_until_idle applies
        the policy after the drain, the Hudi-style async-compactor shape."""
        if self.auto_compact_ratio is None:
            return None
        d = self.deltas.row_count()
        if d > 0 and d >= self.auto_compact_ratio * self.tokens.row_count():
            return self.compact_deltas()
        return None

    def compact_deltas(self) -> MergeStats | None:
        """Fold accumulated delta files into the base via the ordinary
        bucket-pruned MERGE, then truncate the delta table (Iceberg
        rewrite_data_files / Hudi compaction analog). Crash-safe without a
        cross-table transaction: the merge carries a '<job>::compact'
        bookmark at the delta table's committed epoch, so a crash between
        merge and truncate re-skips the merge and just truncates; a re-run
        over a delta set that was already partially applied is a no-op row
        by row (LWW dedup picks each key's max-lsn event; the merge's lsn
        precedence guard drops stale matches; deletes of missing keys do
        nothing). Runs from the apply loop -- not concurrent with appends.
        Raises ValueError if the base already folded a later epoch of the
        job than the deltas hold (a delta table rolled back without its
        base): folding would skip the replayed rows and truncate them."""
        # barrier: async receipt jobs (streaming mode) read the epoch's
        # delta files by direct path -- drain them before the fold/truncate
        # makes those files eligible for expiry
        self.flush_lineage()
        target_epoch = self.deltas.committed_epoch(self.job_id)
        if target_epoch < 0:
            return None
        folded = self.tokens.committed_epoch(f"{self.job_id}::compact")
        if folded > target_epoch:
            raise ValueError(
                f"base already folded epoch {folded} of job {self.job_id!r}, "
                f"the deltas only epoch {target_epoch}: roll both back with "
                "CdcApplier.rollback()"
            )
        snap = self.deltas.snapshot()
        deduped = lww_dedup(
            self.deltas.read(version=snap.version), key="doc_id", order_col="lsn"
        )
        mstats = self.tokens.merge(
            deduped,
            op_col="op",
            job_id=f"{self.job_id}::compact",
            epoch=target_epoch,
            precedence_col="lsn",
        )
        # truncate the snapshot the fold read: an append that slipped in
        # since fails the CAS instead of being dropped
        self.deltas.truncate(snap)
        self.compactions_run += 1
        return mstats

    def rollback(self, version: int) -> int:
        """Roll the job back to the delta table's snapshot `version`, and
        the base to its newest version with the same columns that folded
        no later epoch of the job: base + deltas is then the state as of
        that epoch, and a resumed backfill replays from it. The deltas
        commit first; a crash before the base's commit leaves the base
        ahead, which compact_deltas() refuses until this is re-run.
        Returns the delta table's new version."""
        target = self.deltas.snapshot(version)
        epoch = target.committed.get(self.job_id, {}).get("epoch", -1)
        cols = {f.name: f.type for f in target.schema.fields if f.name != "op"}
        for v in range(self.tokens.snapshot().version, 0, -1):
            base = self.tokens.snapshot(v)  # FileNotFoundError once expired
            folded = base.committed.get(f"{self.job_id}::compact", {}).get("epoch", -1)
            if folded <= epoch and {f.name: f.type for f in base.schema.fields} == cols:
                break
        else:
            raise ValueError(f"no base version matches delta version {version}")
        new_v = self.deltas.rollback(version)
        if v != self.tokens.snapshot().version:
            self.tokens.rollback(v)
        return new_v

    def receipt(self, n_buckets: int = 64):
        """Merkle receipt over the user-facing state (stratum `apply
        --integrity`, crates/engine-processing/src/producer/components/
        integrity.rs); persists alongside the table metadata."""
        from stratum_spark.verify import merkle_receipt

        r = merkle_receipt(self.state(), key="doc_id", n_buckets=n_buckets)
        path = os.path.join(self.warehouse, "tokens", "_meta", "receipt.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(r.to_json(), fh)
        os.replace(tmp, path)
        return r

    def verify(self):
        """Re-read the destination and compare against the stored receipt
        (stratum `verify`, crates/engine-verify/src/verifier.rs:40-53)."""
        from stratum_spark.verify import Receipt, verify_receipt

        path = os.path.join(self.warehouse, "tokens", "_meta", "receipt.json")
        with open(path) as fh:
            r = Receipt.from_json(json.load(fh))
        return verify_receipt(self.state(), "doc_id", r)

    def epoch_state(self) -> dict:
        return {
            "epoch": self.deltas.committed_epoch(self.job_id),
            "lsn": self.deltas.committed_lsn(self.job_id),
            "schema_ver": self._table_schema_ver(),
        }

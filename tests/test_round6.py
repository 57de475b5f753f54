"""Round-6 additions: stats-fold (one less epoch action), per-file lineage
offset ranges from parquet footers, the DLQ riding the write observation,
and zero-extra-job streaming receipts.

Reference parity anchor: the folded stats mirror the reference's per-batch
MetricsSnapshot gathered during the apply itself
(crates/engine-infra/src/metrics.rs:22-31).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog
from stratum_spark.cdc.oracle import replay_binlog, state_as_records
from stratum_spark.lake.table import FileEntry


@pytest.fixture(scope="module")
def binlog6(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("r6_binlog")
    df = generate_binlog(spark, n_docs=400, n_events=4000, seed=13,
                         max_tokens=24, with_evolution=False)
    write_binlog(df, str(d), n_chunks=4)
    return str(d)


def _oracle(binlog_dir):
    return state_as_records(replay_binlog(binlog_dir), table_schema_ver=0)


# ---------------------------------------------------------------------------
# stats fold: one less driver-synchronous Spark action per mor epoch
# ---------------------------------------------------------------------------
def _jobs_for_epoch(spark, ap, events, epoch):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    st = ap.apply_epoch(events, epoch)
    ap.flush_lineage()
    after = set(tracker.getJobIdsForGroup())
    assert not st.skipped
    return len(after - before)


# a scripted DDL step the feed (all schema_ver 0) never reaches: the
# epoch stays "DDL pending" without the table schema ever changing
_NEVER_APPLIED = [{"lsn": 0, "ver": 1, "action": "add_column", "args": ["lang", "string"]}]


def test_stats_fold_removes_one_job_per_epoch(spark, binlog6, tmp_path):
    """An epoch runs no separate stats or DLQ action: its stats and DLQ
    rows ride the delta write's Observation and the DLQ rows are written
    driver-side. Pinned as the absolute count of submitted Spark jobs for
    a warm epoch at local[4]: 2 with no DDL pending (AQE surfaces the LWW
    shuffle's map stage as its own job); a separate stats action would
    add 2 more. With DDL pending the epoch adds only the max(schema_ver)
    probe (AQE: 2 jobs)."""
    feed = spark.read.parquet(binlog6)
    sl = [feed.where((F.col("lsn") >= i * 1000 + 1) & (F.col("lsn") <= (i + 1) * 1000))
          for i in range(2)]
    for evolution, want_jobs in (([], 2), (_NEVER_APPLIED, 4)):
        ap = CdcApplier(spark, str(tmp_path / f"wf{len(evolution)}"), job_id="f",
                        n_buckets=8, evolution=evolution, write_mode="mor")
        # epoch 0 warms the JVM paths; epoch 1 is the measured one
        _jobs_for_epoch(spark, ap, sl[0], 0)
        jobs = _jobs_for_epoch(spark, ap, sl[1], 1)
        assert jobs == want_jobs, (evolution, jobs)
        assert ap.evolution_pending() == bool(evolution)
        # the folded stats count every raw row of the slice
        lin = ap.lineage.read().where(F.col("partition_id") == -1).orderBy("epoch")
        assert [r["rows_in"] for r in lin.collect()] == [sl[0].count(), sl[1].count()]


def test_fold_lineage_detail_is_per_file_offset_ranges(spark, binlog6, tmp_path):
    """Folded epochs record per-FILE lineage rows whose lsn bounds come
    from the parquet footers: every detail row's [lsn_min, lsn_max] must
    sit inside its epoch's slice range, and file row counts must sum to
    the committed delta rows."""
    ap = CdcApplier(spark, str(tmp_path / "wl"), job_id="l", n_buckets=8,
                    evolution=[], write_mode="mor")
    ap.run_backfill(binlog6, epoch_size=1000)
    lin = ap.lineage.read()
    det = lin.where(F.col("partition_id") >= 0).collect()
    assert det, "file-level detail rows must exist"
    for r in det:
        ep = int(r["epoch"])
        lo, hi = ep * 1000 + 1, (ep + 1) * 1000
        assert lo <= r["lsn_min"] <= r["lsn_max"] <= hi
        assert r["rows_in"] > 0
    by_epoch: dict[int, int] = {}
    for r in det:
        by_epoch[int(r["epoch"])] = by_epoch.get(int(r["epoch"]), 0) + int(r["rows_in"])
    assert sum(by_epoch.values()) == ap.deltas.row_count()
    # the manifest itself carries the same bounds (FileEntry.stats)
    assert any(
        e.stats and "lsn" in e.stats for e in ap.deltas.snapshot().files
    )


def test_file_entry_stats_json_roundtrip():
    e = FileEntry("data/x.parquet", (0, 1), 3, 42, stats={"lsn": (7, 99)})
    assert FileEntry.from_json(e.to_json()) == e
    # entries without stats stay wire-compatible with old snapshots
    old = {"path": "p", "buckets": [1], "schema_id": 0, "rows": 1}
    assert FileEntry.from_json(old).stats is None


# ---------------------------------------------------------------------------
# streaming receipts via the write job's own observation (zero extra jobs)
# ---------------------------------------------------------------------------
def test_stream_receipts_use_write_observation(spark, binlog6, tmp_path):
    from stratum_spark.streaming import run_stream_until_idle

    ap = CdcApplier(spark, str(tmp_path / "wst"), job_id="st", n_buckets=8,
                    evolution=[], write_mode="mor")
    run_stream_until_idle(ap, binlog6, str(tmp_path / "ckpt6"),
                          max_files_per_trigger=1)
    # the observation path engaged (zero extra jobs for those receipts) ...
    assert ap._receipts_from_obs >= 1
    # ... and the receipts verify against the committed delta files
    res = ap.verify_epoch_receipts()
    assert res and all(r["status"] == "ok" for r in res)


# ---------------------------------------------------------------------------
# DLQ via the write job's observation: the write probe already decodes the
# token column and evaluates the validity predicate, so the epoch's rare
# bad rows ride the SAME CollectMetrics node the stats fold uses, as
# finished DLQ rows the append writes driver-side. The feed-scan
# frame stays as the fallback (over-cap epochs, a lost listener event, the
# crash catch-up); both must write identical DLQ rows. The crash windows
# on the feed-scan route are test_cdc's test_dlq_exactly_once_crash_*.
def _oracle_dlq_lsns6(binlog_dir):
    return sorted(replay_binlog(binlog_dir).dlq_lsns)


def _dlq_run(spark, binlog_dir, wh):
    ap = CdcApplier(spark, wh, job_id="o", n_buckets=8, evolution=[],
                    write_mode="mor")
    ap.run_backfill(binlog_dir, epoch_size=1000, pipelined=True)
    state = {r["doc_id"]: (list(r["tokens"] or []), r["n_tok"])
             for r in ap.state().collect()}
    dlq = sorted(
        (r["lsn"], r["doc_id"], r["rule"], r["message"], r["payload"])
        for r in ap.dlq.read().collect()
    )
    return ap, state, dlq


def _assert_oracle_state(state, binlog_dir):
    oracle = _oracle(binlog_dir)
    assert set(state) == set(oracle)
    for k, w in oracle.items():
        assert state[k][0] == list(w["tokens"]), k


def test_dlq_via_observation_matches_scan_path(spark, binlog6, tmp_path,
                                               monkeypatch):
    """Differential: the observation-fed DLQ vs the feed-scan DLQ (forced
    on every epoch by a negative cap) must produce identical DLQ content
    equal to the replay oracle's, and the oracle state; the obs path must
    actually engage (bad rows present in the feed)."""
    import stratum_spark.cdc.applier as applier_mod

    from_rows = []
    real = CdcApplier._append_dlq_rows

    def spy(self, rows, epoch, lsn_max):
        from_rows.append(len(rows))
        return real(self, rows, epoch, lsn_max)

    monkeypatch.setattr(CdcApplier, "_append_dlq_rows", spy)
    ap1, state1, dlq1 = _dlq_run(spark, binlog6, str(tmp_path / "wo1"))
    assert len(from_rows) == 4 and sum(from_rows) > 0  # every epoch via obs
    from_rows.clear()
    monkeypatch.setattr(applier_mod, "_DLQ_OBS_CAP", -1)
    ap0, state0, dlq0 = _dlq_run(spark, binlog6, str(tmp_path / "wo0"))
    assert from_rows == []  # every epoch via the feed scan
    assert len(dlq1) > 0
    assert dlq1 == dlq0
    assert [d[0] for d in dlq1] == _oracle_dlq_lsns6(binlog6)
    assert state1 == state0
    assert ap1._last_bad_count is not None and ap1._last_bad_count > 0
    _assert_oracle_state(state1, binlog6)


def test_dlq_obs_cap_flips_to_scan_path(spark, binlog6, tmp_path, monkeypatch):
    """A bad-row count above the observation cap must flip subsequent
    epochs back to the scan path (driver-memory bound) with the DLQ and
    state still equal to the replay oracle's; under the cap the obs path
    stays on."""
    import stratum_spark.cdc.applier as applier_mod

    routes = []
    real_rows, real_scan = CdcApplier._append_dlq_rows, CdcApplier._dlq_frame

    def spy_rows(self, rows, epoch, lsn_max):
        routes.append("rows")
        return real_rows(self, rows, epoch, lsn_max)

    def spy_scan(self, events):
        routes.append("scan")
        return real_scan(self, events)

    monkeypatch.setattr(CdcApplier, "_append_dlq_rows", spy_rows)
    monkeypatch.setattr(CdcApplier, "_dlq_frame", spy_scan)
    monkeypatch.setattr(applier_mod, "_DLQ_OBS_CAP", 1)
    ap, state, dlq = _dlq_run(spark, binlog6, str(tmp_path / "wcap"))
    assert ap._last_bad_count is not None and ap._last_bad_count > 1
    assert not ap._dlq_obs_gate()
    # epoch 0 rides the observation; once over the cap, epochs (gated on
    # an earlier epoch's count -- the pipelined prefetch races the
    # commit) flip to the feed scan
    assert len(routes) == 4 and routes[0] == "rows" and "scan" in routes, routes
    assert [d[0] for d in dlq] == _oracle_dlq_lsns6(binlog6)
    _assert_oracle_state(state, binlog6)
    monkeypatch.setattr(applier_mod, "_DLQ_OBS_CAP", 100_000)
    assert ap._dlq_obs_gate()


def test_dlq_obs_exactly_once_crash_after_dlq_before_merge(spark, binlog6,
                                                           tmp_path, monkeypatch):
    """Crash window A under the observation-fed DLQ (mor): the observed
    DLQ rows commit on the committing thread just before the delta commit,
    so a crash between the two must leave a resumed backfill with the
    exact oracle DLQ set (the replayed epoch's bookmarked append is a
    no-op) and the oracle state."""
    obs_epochs = []
    real = CdcApplier._append_dlq_rows

    def spy(self, rows, epoch, lsn_max):
        obs_epochs.append(epoch)
        return real(self, rows, epoch, lsn_max)

    monkeypatch.setattr(CdcApplier, "_append_dlq_rows", spy)
    wh = str(tmp_path / "whOA")
    ap1 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[],
                     write_mode="mor", n_events_hint=4000)

    def crash_commit(entries, **kw):
        raise RuntimeError("injected crash before merge commit")

    ap1.deltas.commit_epoch_files = crash_commit
    feed = spark.read.parquet(binlog6).where(F.col("lsn") <= 1000)
    with pytest.raises(RuntimeError, match="injected crash"):
        ap1.apply_epoch(feed, 0)
    assert obs_epochs == [0]  # obs path engaged
    assert ap1.deltas.committed_epoch("t") == -1  # merge never committed
    assert ap1.dlq.committed_epoch("t") == 0  # DLQ commit survived

    ap2 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[],
                     write_mode="mor", n_events_hint=4000)
    ap2.run_backfill(binlog6, epoch_size=1000)
    got = sorted(r["lsn"] for r in ap2.dlq.read().collect())
    assert got and got == _oracle_dlq_lsns6(binlog6)
    # state converges to the oracle despite the injected crash
    state = {r["doc_id"]: list(r["tokens"] or []) for r in ap2.state().collect()}
    oracle = _oracle(binlog6)
    assert set(state) == set(oracle)
    for k, w in oracle.items():
        assert state[k] == list(w["tokens"]), k


def test_dlq_obs_exactly_once_crash_after_merge_before_dlq(spark, binlog6,
                                                           tmp_path):
    """Crash window B under the observation-fed DLQ (mor): the merge
    committed but the observed DLQ rows were lost. _dlq_catchup's
    feed-scan rebuild must restore exactly that epoch's DLQ rows on
    resume, and a second resume must change nothing."""
    wh = str(tmp_path / "whOB")
    ap1 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[],
                     write_mode="mor", n_events_hint=4000)
    lost = []

    def lost_flush(rows, epoch, lsn_max):
        lost.append(epoch)
        return 0

    ap1._append_dlq_rows = lost_flush  # lost DLQ flush
    ap1.run_backfill(binlog6, epoch_size=1000, stop_after=1)
    assert lost == [0]  # epoch 0 took the obs route
    assert ap1.deltas.committed_epoch("t") == 0
    assert ap1.dlq.committed_epoch("t") == -1 and ap1.dlq.row_count() == 0

    ap2 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[],
                     write_mode="mor", n_events_hint=4000)
    ap2.run_backfill(binlog6, epoch_size=1000)
    got = sorted(r["lsn"] for r in ap2.dlq.read().collect())
    assert got == _oracle_dlq_lsns6(binlog6)
    ap3 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[],
                     write_mode="mor", n_events_hint=4000)
    ap3.run_backfill(binlog6, epoch_size=1000)
    assert sorted(r["lsn"] for r in ap3.dlq.read().collect()) == got

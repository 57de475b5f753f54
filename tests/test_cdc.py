"""CDC end-to-end: distributed applier vs sequential replay oracle.

Mirrors the reference's integration strategy: exactly-once resume
(crates/engine-tests/src/resume.rs:50-127 -- COUNT(DISTINCT pk) == source,
no gaps/dupes), validation-to-DLQ (integration.rs:570,1177), and mid-stream
schema evolution (generator.rs:274-282), recast on the tokens/binlog domain.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import stratum_spark.cdc.applier as applier_mod
from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog
from stratum_spark.cdc.binlog import ddl_events
from stratum_spark.cdc.dedup import lww_dedup, lww_dedup_window
from stratum_spark.cdc.oracle import replay_binlog, state_as_records

N_DOCS, N_EVENTS, EPOCH = 300, 2000, 400


@pytest.fixture(scope="module")
def binlog_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("binlog")
    df = generate_binlog(spark, n_docs=N_DOCS, n_events=N_EVENTS, seed=42, max_tokens=32)
    write_binlog(df, str(d), n_chunks=5)
    return str(d)


def collect_state(applier):
    return {r["doc_id"]: r.asDict() for r in applier.state().collect()}


def run_full(spark, binlog_dir, warehouse):
    ap = CdcApplier(
        spark, warehouse, job_id="t", n_buckets=8, n_events_hint=N_EVENTS
    )
    stats = ap.run_backfill(binlog_dir, epoch_size=EPOCH)
    return ap, stats


def test_binlog_deterministic(spark):
    a = generate_binlog(spark, n_docs=50, n_events=200, seed=7).orderBy("lsn").collect()
    b = generate_binlog(spark, n_docs=50, n_events=200, seed=7).orderBy("lsn").collect()
    assert a == b
    c = generate_binlog(spark, n_docs=50, n_events=200, seed=8).orderBy("lsn").collect()
    assert a != c


def test_lww_dedup_variants_agree(spark):
    df = generate_binlog(spark, n_docs=20, n_events=500, seed=1, with_evolution=False)
    a = lww_dedup(df, "doc_id", "lsn")
    b = lww_dedup_window(df, "doc_id", "lsn")
    assert a.count() == b.count() == df.select("doc_id").distinct().count()
    ja = {r["doc_id"]: r["lsn"] for r in a.collect()}
    jb = {r["doc_id"]: r["lsn"] for r in b.collect()}
    assert ja == jb


def test_backfill_matches_oracle(spark, binlog_dir, tmp_path, monkeypatch):
    # every epoch, pending DDL or not, takes the one path: its DLQ rows
    # are the ones the delta write's observation collected
    from_rows = []
    real = CdcApplier._append_dlq_rows

    def spy(self, rows, epoch):
        from_rows.append(len(rows))
        return real(self, rows, epoch)

    monkeypatch.setattr(CdcApplier, "_append_dlq_rows", spy)
    ap, stats = run_full(spark, binlog_dir, str(tmp_path / "wh"))
    assert all(not s.skipped for s in stats)
    assert len(from_rows) == len(stats) and sum(from_rows) > 0

    # schema evolved through the scripted DDL
    assert ap.epoch_state()["schema_ver"] == 3
    names = ap.tokens.snapshot().schema.names
    assert "corpus" in names and "lang" in names and "source" not in names
    assert ap.tokens.snapshot().schema.field_by_name("n_tok").type == "bigint"

    got = collect_state(ap)
    st = replay_binlog(binlog_dir)
    want = state_as_records(st, table_schema_ver=3)
    assert set(got) == set(want)
    for doc_id, w in want.items():
        g = got[doc_id]
        assert g["tokens"] == w["tokens"], doc_id          # per-row token equality
        assert g["n_tok"] == w["n_tok"] and g["corpus"] == w["corpus"]
        assert g["lang"] == w["lang"], doc_id

    # DLQ got exactly the invalid events
    dlq_lsns = sorted(r["lsn"] for r in ap.dlq.read().collect())
    assert dlq_lsns == sorted(st.dlq_lsns)
    assert len(dlq_lsns) > 0, "fixture should produce some invalid rows"

    # lineage has a summary row per epoch with consistent counts
    lin = ap.lineage.read().where(F.col("partition_id") == -1).orderBy("epoch").collect()
    assert len(lin) == len(stats)
    assert sum(r["rows_dlq"] for r in lin) == len(dlq_lsns)

    # every epoch has per-FILE detail rows inside its lsn slice, whose
    # row counts sum to the delta rows the epoch committed
    det = ap.lineage.read().where(F.col("partition_id") >= 0).collect()
    for r in lin:
        ep = int(r["epoch"])
        rows = [d for d in det if d["epoch"] == ep]
        assert rows, ep
        lo, hi = ep * EPOCH + 1, (ep + 1) * EPOCH
        assert all(lo <= d["lsn_min"] <= d["lsn_max"] <= hi for d in rows), ep
        assert sum(d["rows_in"] for d in rows) == r["rows_deduped"], ep


def test_kill_and_resume_converges(spark, binlog_dir, tmp_path):
    # reference: one-shot run
    ap_ref, _ = run_full(spark, binlog_dir, str(tmp_path / "ref"))
    want = collect_state(ap_ref)

    # crashed run: stop after 2 epochs, then new applier resumes same warehouse
    wh = str(tmp_path / "crash")
    ap1 = CdcApplier(spark, wh, job_id="t", n_buckets=8, n_events_hint=N_EVENTS)
    s1 = ap1.run_backfill(binlog_dir, epoch_size=EPOCH, stop_after=2)
    assert len(s1) == 2

    ap2 = CdcApplier(spark, wh, job_id="t", n_buckets=8, n_events_hint=N_EVENTS)
    s2 = ap2.run_backfill(binlog_dir, epoch_size=EPOCH)
    assert s2 and all(not s.skipped for s in s2)

    got = collect_state(ap2)
    assert got == want

    # exactly-once: no duplicate keys
    n, nd = ap2.tokens.read().count(), ap2.tokens.read().select("doc_id").distinct().count()
    assert n == nd


def test_epoch_replay_is_noop(spark, binlog_dir, tmp_path):
    ap = CdcApplier(spark, str(tmp_path / "wh2"), job_id="t", n_buckets=8,
                    n_events_hint=N_EVENTS)
    feed = spark.read.parquet(binlog_dir).where(F.col("lsn") <= EPOCH)
    s1 = ap.apply_epoch(feed, 0)
    assert not s1.skipped
    before = collect_state(ap)
    s2 = ap.apply_epoch(feed, 0)  # re-delivery of the whole epoch
    assert s2.skipped
    assert collect_state(ap) == before


def _oracle_dlq_lsns(binlog_dir, epochs: range) -> list[int]:
    st = replay_binlog(binlog_dir)
    lo, hi = epochs.start * EPOCH + 1, epochs.stop * EPOCH
    return sorted(l for l in st.dlq_lsns if lo <= l <= hi)


# the two DLQ routes: -1 forces the feed-scan frame on every epoch, the
# default cap writes the DLQ rows the write observation collected
_DLQ_CAPS = (-1, applier_mod._DLQ_OBS_CAP)


def _oracle_state_tokens(binlog_dir):
    return {k: list(w["tokens"]) for k, w in
            state_as_records(replay_binlog(binlog_dir), table_schema_ver=0).items()}


def test_dlq_exactly_once_crash_after_dlq_before_merge(spark, binlog_dir, tmp_path,
                                                      monkeypatch):
    """Crash window A: the DLQ append committed but the epoch commit did
    not. The replayed epoch's (bookmarked) DLQ append must be a no-op --
    the DLQ lsn set stays exact, no duplicates -- and the state converges
    to the oracle. Run over both DLQ routes."""
    want_dlq = _oracle_dlq_lsns(binlog_dir, range(0, N_EVENTS // EPOCH))
    want_state = _oracle_state_tokens(binlog_dir)
    sl0 = spark.read.parquet(binlog_dir).where(F.col("lsn") <= EPOCH)
    obs_epochs = []
    real = CdcApplier._append_dlq_rows

    def spy(self, rows, epoch):
        obs_epochs.append(epoch)
        return real(self, rows, epoch)

    monkeypatch.setattr(CdcApplier, "_append_dlq_rows", spy)
    for cap in _DLQ_CAPS:
        monkeypatch.setattr(applier_mod, "_DLQ_OBS_CAP", cap)
        wh = str(tmp_path / f"whA{cap}")
        ap1 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[])

        def crash_commit(entries, **kw):
            raise RuntimeError("injected crash before the epoch commit")

        ap1.deltas.commit_epoch_files = crash_commit
        obs_epochs.clear()
        with pytest.raises(RuntimeError, match="injected crash"):
            ap1.apply_epoch(sl0, 0)
        # the route under test engaged: observation rows unless cap is -1
        assert obs_epochs == ([] if cap < 0 else [0]), cap
        assert ap1.deltas.committed_epoch("t") == -1  # main commit never happened
        assert ap1.dlq.committed_epoch("t") == 0  # DLQ commit survived the crash

        # restart: the full backfill replays epoch 0 end-to-end
        ap2 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[])
        ap2.run_backfill(binlog_dir, epoch_size=EPOCH)
        got = sorted(r["lsn"] for r in ap2.dlq.read().collect())
        assert got and got == want_dlq, cap
        state = {r["doc_id"]: list(r["tokens"] or []) for r in ap2.state().collect()}
        assert state == want_state, cap


def test_dlq_exactly_once_crash_after_merge_before_dlq(spark, binlog_dir, tmp_path,
                                                      monkeypatch):
    """Crash window B: the epoch commit landed but the DLQ flush was lost.
    The resumed backfill's catch-up (a feed-scan rebuild) must restore
    exactly that epoch's DLQ rows, and a second resume must change
    nothing. Run over both DLQ routes."""
    want = _oracle_dlq_lsns(binlog_dir, range(0, N_EVENTS // EPOCH))
    for cap in _DLQ_CAPS:
        monkeypatch.setattr(applier_mod, "_DLQ_OBS_CAP", cap)
        wh = str(tmp_path / f"whB{cap}")
        ap1 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[])
        # simulate the lost DLQ flush: epoch 0 runs with the DLQ commit
        # (either route's) stubbed out
        ap1.dlq.commit_epoch_files = lambda *a, **kw: 0
        ap1.run_backfill(binlog_dir, epoch_size=EPOCH, stop_after=1)
        assert ap1.deltas.committed_epoch("t") == 0
        assert ap1.dlq.committed_epoch("t") == -1 and ap1.dlq.row_count() == 0

        ap2 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[])
        ap2.run_backfill(binlog_dir, epoch_size=EPOCH)
        got = sorted(r["lsn"] for r in ap2.dlq.read().collect())
        assert got == want, cap
        # and a second resume changes nothing (idempotent catch-up)
        ap3 = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[])
        ap3.run_backfill(binlog_dir, epoch_size=EPOCH)
        assert sorted(r["lsn"] for r in ap3.dlq.read().collect()) == got, cap


def test_broadcast_lww_tie_copies_identical_payload(spark):
    """The feed's identical-payload-on-tie contract: the at-least-once
    feed re-emits events with the SAME (lsn, payload), so every reader
    that resolves keys by max-lsn with an arbitrary tie-break (lww_dedup,
    the oracle's keep-first) lands on the same row."""
    import pyspark.sql.functions as F

    df = generate_binlog(spark, n_docs=40, n_events=1500, seed=5,
                         dup_frac=0.08, with_evolution=False)
    assert df.count() > df.select("doc_id", "lsn").distinct().count()
    # every (doc_id, lsn) tie group carries exactly ONE distinct payload
    ties = (
        df.groupBy("doc_id", "lsn")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct(
                F.struct("op", "tokens", "n_tok", "source", "schema_ver")
            ).alias("payloads"),
        )
        .where("n > 1")
    )
    assert ties.count() > 0
    assert ties.where("payloads > 1").count() == 0


def test_dlq_pipelined_commits_in_epoch_order(spark, binlog_dir, tmp_path):
    """Overlapped epochs' DLQ appends race the DLQ table's MONOTONIC
    exactly-once bookmark: if epoch N+1's commit lands before epoch N's,
    N's rows are silently dropped (the `epoch <= last` replay guard eats
    them) and _dlq_catchup can never repair it. Every DLQ append therefore
    runs on the committing thread, in epoch order. This test makes epoch
    0's append SLOW while the pipelined loop prefetches epoch 1 -- an
    append issued from the prefetch would overtake it and epoch 0's DLQ
    rows would vanish; appended at commit, the full set survives."""
    import time as _t

    wh = str(tmp_path / "whO")
    ap = CdcApplier(spark, wh, job_id="t", n_buckets=8, evolution=[])
    orig = ap.dlq.commit_epoch_files

    def slow_epoch0(entries, job_id, epoch, **kw):
        if epoch == 0:
            _t.sleep(2.0)  # an out-of-order epoch 1 append would overtake
        return orig(entries, job_id, epoch, **kw)

    ap.dlq.commit_epoch_files = slow_epoch0
    ap.run_backfill(binlog_dir, epoch_size=EPOCH, pipelined=True)
    got = sorted(r["lsn"] for r in ap.dlq.read().collect())
    assert got == _oracle_dlq_lsns(binlog_dir, range(0, N_EVENTS // EPOCH))


def test_pipelined_backfill_matches_serial(spark, binlog_dir, tmp_path):
    """Epoch pipelining (prepare N+1 concurrent with commit N) must be
    invisible in the final state."""
    ap_s = CdcApplier(spark, str(tmp_path / "ser"), job_id="t", n_buckets=8,
                      n_events_hint=N_EVENTS)
    ap_s.run_backfill(binlog_dir, epoch_size=EPOCH, pipelined=False)
    ap_p = CdcApplier(spark, str(tmp_path / "pipe"), job_id="t", n_buckets=8,
                      n_events_hint=N_EVENTS)
    stats = ap_p.run_backfill(binlog_dir, epoch_size=EPOCH, pipelined=True)
    assert all(not s.skipped for s in stats)
    assert collect_state(ap_p) == collect_state(ap_s)


def test_backfill_validate_off_no_duplicate_keys(spark, tmp_path):
    """With validation OFF, invalid rows merge like any other row -- their
    buckets must still be discovered as touched, otherwise the merge writes
    a key into a bucket whose old files were kept and the key duplicates."""
    from pyspark.sql import functions as F

    from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog

    feed = generate_binlog(spark, n_docs=60, n_events=300, seed=11, max_tokens=8,
                           with_evolution=False)
    write_binlog(feed, str(tmp_path / "b"), n_chunks=1)
    assert feed.where((F.col("op") != "D") & ~F.col("n_tok").eqNullSafe(F.size("tokens"))).count() > 0
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="nv", n_buckets=4,
                    evolution=[], validate=False)
    ap.run_backfill(str(tmp_path / "b"), epoch_size=75)
    st = ap.state()
    assert st.groupBy("doc_id").count().where("count > 1").count() == 0
    assert st.count() == st.select("doc_id").distinct().count()


def test_feed_split_tuning_adaptive_with_hysteresis(spark, tmp_path):
    """_tune_feed_split sizes spark.sql.files.maxPartitionBytes from a
    decaying max of observed epoch bytes: clamps to [8MB, 128MB], ignores
    unrepresentative tiny epochs (a heartbeat must not clamp the session
    right before a large epoch plans its scan), but adapts downward when
    the workload genuinely shrinks."""
    from stratum_spark.cdc import CdcApplier

    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    try:
        ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="tune",
                        n_buckets=4, evolution=[])
        par = max(spark.sparkContext.defaultParallelism, 1)
        ap._tune_feed_split((128 << 20) * 2 * par)     # big epoch
        assert spark.conf.get(key) == str(128 << 20)   # clamped high
        ap._tune_feed_split(1000)                      # heartbeat: ignored
        assert spark.conf.get(key) == str(128 << 20)
        for _ in range(100):                           # genuine shrink
            ap._tune_feed_split(2 << 20)
        assert spark.conf.get(key) == str(8 << 20)     # re-sized down
        mid = 32 * (2 * par) << 20                     # 32MB/core target
        for _ in range(60):
            ap._tune_feed_split(mid)
        assert spark.conf.get(key) == str(32 << 20)
    finally:
        spark.conf.set(key, orig)

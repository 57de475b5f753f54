"""Merge-on-read (delta-append) write mode: the O(batch)-per-epoch ingest
path. Must converge to the IDENTICAL state as copy-on-write merges and the
sequential replay oracle, across kill-and-resume, replay, schema evolution,
and compaction at any cadence."""

from __future__ import annotations

from pyspark.sql import functions as F

from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog
from stratum_spark.cdc.oracle import replay_binlog, state_as_records

N_EVENTS = 900
N_DOCS = 150


def _mk_feed(spark, tmp_path, with_evolution=True):
    feed = generate_binlog(
        spark, n_docs=N_DOCS, n_events=N_EVENTS, seed=21, max_tokens=12,
        with_evolution=with_evolution,
    )
    write_binlog(feed, str(tmp_path / "binlog"), n_chunks=3)
    return str(tmp_path / "binlog")


def _rows(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        d["tokens"] = list(d["tokens"] or [])
        out[d["doc_id"]] = d
    return out


def test_mor_matches_cow_and_oracle(spark, tmp_path):
    binlog = _mk_feed(spark, tmp_path)
    cow = CdcApplier(spark, str(tmp_path / "wc"), job_id="j", n_buckets=8,
                     n_events_hint=N_EVENTS, write_mode="cow")
    cow.run_backfill(binlog, epoch_size=200)
    # the cow preset folds every epoch: no delta rows remain and the base
    # alone holds the state
    assert cow.deltas.row_count() == 0
    got_base = _rows(cow.tokens.read().drop("lsn"))
    mor = CdcApplier(spark, str(tmp_path / "wm"), job_id="j", n_buckets=8,
                     n_events_hint=N_EVENTS, write_mode="mor")
    mor.run_backfill(binlog, epoch_size=200, compact_every=3)

    got_cow = _rows(cow.state())
    got_mor = _rows(mor.state())
    assert got_mor == got_cow

    st = replay_binlog(binlog)
    want = state_as_records(st, table_schema_ver=mor.epoch_state()["schema_ver"])
    assert set(got_mor) == set(want) == set(got_base)
    for k, w in want.items():
        assert got_mor[k]["tokens"] == list(w["tokens"]), k
        assert got_base[k]["tokens"] == list(w["tokens"]), k


def test_mor_kill_resume_and_replay(spark, tmp_path):
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    wh = str(tmp_path / "w1")
    ap1 = CdcApplier(spark, wh, job_id="kr", n_buckets=8, evolution=[],
                     write_mode="mor")
    ap1.run_backfill(binlog, epoch_size=200, stop_after=2)
    killed_epoch = ap1.epoch_state()["epoch"]
    assert killed_epoch == 1

    # resume in a fresh applier converges
    ap2 = CdcApplier(spark, wh, job_id="kr", n_buckets=8, evolution=[],
                     write_mode="mor")
    ap2.run_backfill(binlog, epoch_size=200)
    st = replay_binlog(binlog)
    want = state_as_records(st, table_schema_ver=0)
    got = _rows(ap2.state())
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == list(w["tokens"]), k

    # full replay from epoch 0 is a no-op (exactly-once bookmark on the
    # delta table): every epoch skips, state unchanged
    before = got
    stats = ap2.run_backfill(binlog, epoch_size=200)
    assert all(s.skipped for s in stats) or stats == []
    assert _rows(ap2.state()) == before


def test_mor_compaction_is_transparent_and_crash_safe(spark, tmp_path):
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    ap = CdcApplier(spark, str(tmp_path / "w2"), job_id="cp", n_buckets=8,
                    evolution=[], write_mode="mor")
    ap.run_backfill(binlog, epoch_size=150)
    before = _rows(ap.state())
    assert ap.deltas.row_count() > 0

    m = ap.compact_deltas()
    assert m is not None and not m.epoch_skipped
    assert ap.deltas.row_count() == 0  # truncated
    assert _rows(ap.state()) == before  # read-path result unchanged

    # the crash window: merge committed, truncate lost -> rerunning
    # compaction must skip the merge (bookmark) and only truncate; and a
    # FULL re-merge of an already-applied delta set is a row-level no-op
    m2 = ap.compact_deltas()
    assert m2 is not None and m2.epoch_skipped
    assert _rows(ap.state()) == before

    # deletes survive compaction: deleted docs stay gone
    st = replay_binlog(binlog)
    want = state_as_records(st, table_schema_ver=0)
    assert set(before) == set(want)


def test_mor_epoch_write_is_o_batch_not_o_table(spark, tmp_path):
    """The point of MoR: a delta commit adds O(epoch) rows of files; the
    base table's files are untouched between compactions."""
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    ap = CdcApplier(spark, str(tmp_path / "w3"), job_id="ob", n_buckets=8,
                    evolution=[], write_mode="mor")
    stats = ap.run_backfill(binlog, epoch_size=150)
    applied = [s for s in stats if not s.skipped]
    # base untouched by appends
    assert ap.tokens.row_count() == 0
    # each epoch's delta rows == its deduped (post-DLQ, post-LWW) batch
    per_epoch = {s.epoch: s for s in applied}
    snaps = ap.deltas.history()
    assert ap.deltas.row_count() == sum(s.rows_deduped for s in applied)
    assert len([s for s in snaps if s.committed]) >= len(applied)
    # full scan equality still holds via the read path
    st = replay_binlog(binlog)
    want = state_as_records(st, table_schema_ver=0)
    got = _rows(ap.state())
    assert set(got) == set(want)


def test_mor_read_path_plan_quality(spark, tmp_path):
    """The read-merge must plan as a partial hash aggregate (map-side
    combine over base ∪ deltas), never a window sort -- the same skew
    immunity the write-side LWW dedup has."""
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    ap = CdcApplier(spark, str(tmp_path / "wp"), job_id="pq", n_buckets=8,
                    evolution=[], write_mode="mor")
    ap.run_backfill(binlog, epoch_size=300)
    plan = ap.state()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_max_by" in plan
    assert "CartesianProduct" not in plan


def test_mor_pipelined_matches_serial(spark, tmp_path):
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    a = CdcApplier(spark, str(tmp_path / "ws"), job_id="p", n_buckets=8,
                   evolution=[], write_mode="mor")
    a.run_backfill(binlog, epoch_size=150, compact_every=3)
    b = CdcApplier(spark, str(tmp_path / "wq"), job_id="p", n_buckets=8,
                   evolution=[], write_mode="mor")
    b.run_backfill(binlog, epoch_size=150, pipelined=True, compact_every=3)
    assert _rows(a.state()) == _rows(b.state())
    # the compaction cadence holds on both loops
    assert a.compactions_run == b.compactions_run > 0


def test_verify_epoch_receipts_batch_boundary(spark, tmp_path):
    """The reference's batch-boundary verify mode (verifier.rs:207-252):
    every applied epoch's digest recomputes from its OWN delta files
    (snapshot-history diffs) and matches the receipt persisted during
    apply; tampering with any file flips exactly that epoch to mismatch;
    compaction keeps the historical files verifiable until expiry."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    ap = CdcApplier(spark, str(tmp_path / "wvr"), job_id="vr", n_buckets=8,
                    evolution=[], write_mode="mor")
    ap.run_backfill(binlog, epoch_size=150)
    res = ap.verify_epoch_receipts()
    assert len(res) >= 5
    assert all(r["status"] == "ok" for r in res), res

    # compaction truncates the live delta set but the epoch files remain
    # on disk (until expire_snapshots) -- receipts stay verifiable
    ap.compact_deltas()
    res_after = ap.verify_epoch_receipts()
    assert all(r["status"] == "ok" for r in res_after), res_after

    # tamper one value inside one epoch's file
    snap0 = ap.deltas.history()[1]  # first append snapshot
    tampered_epoch = snap0.committed["vr"]["epoch"]
    path = _os.path.join(ap.deltas.root, snap0.files[0].path)
    t = pq.read_table(path)
    col = t["n_tok"].to_pylist()
    col[0] = (col[0] or 0) + 1
    idx = t.schema.get_field_index("n_tok")
    t = t.set_column(idx, "n_tok", pa.array(col, type=t.schema.field("n_tok").type))
    pq.write_table(t, path)
    # drop Hadoop's local-FS checksum sidecar so the read reaches the data
    # (a real tamperer rewrites it; object stores have no sidecar at all)
    crc = _os.path.join(_os.path.dirname(path), f".{_os.path.basename(path)}.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    res2 = {r["epoch"]: r["status"] for r in ap.verify_epoch_receipts()}
    assert res2[tampered_epoch] == "mismatch"
    assert all(s == "ok" for e, s in res2.items() if e != tampered_epoch), res2

    # snapshot expiry removes the physical epoch files (post-compaction
    # nothing references them) -> receipts survive as the durable record
    # and verification reports missing_files instead of false positives
    ap.deltas.expire_snapshots(keep_last=1)
    res3 = {r["epoch"]: r["status"] for r in ap.verify_epoch_receipts()}
    assert set(res3.values()) <= {"missing_files", "no_files_recorded"}, res3
    assert len(res3) == len(res2)


def test_mor_deep_pipelined_kill_and_resume(spark, tmp_path):
    """Deep pipelining writes epoch N+1's delta files while epoch N
    commits (two-phase append). A kill between runs leaves the prefetched
    write's files ORPHANED (no snapshot references them); the resumed run
    must re-apply that epoch exactly once and converge to the oracle with
    the same committed delta volume as a clean serial run."""
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    wh = str(tmp_path / "wdp")
    a = CdcApplier(spark, wh, job_id="dp", n_buckets=8, evolution=[],
                   write_mode="mor")
    a.run_backfill(binlog, epoch_size=150, stop_after=2, pipelined=True)

    b = CdcApplier(spark, wh, job_id="dp", n_buckets=8, evolution=[],
                   write_mode="mor")
    b.run_backfill(binlog, epoch_size=150, pipelined=True)
    want = state_as_records(replay_binlog(binlog), table_schema_ver=0)
    got = _rows(b.state())
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == list(w["tokens"]), k
    c = CdcApplier(spark, str(tmp_path / "wds"), job_id="dp", n_buckets=8,
                   evolution=[], write_mode="mor")
    c.run_backfill(binlog, epoch_size=150)
    assert b.deltas.row_count() == c.deltas.row_count()


def test_mor_reads_race_compaction(spark, tmp_path):
    """state() and lookup() pin two snapshots: the deltas and the base. A
    compaction by another applier (base MERGE commit, then delta truncate)
    may land between the pins. Deterministic interleaving: the first of
    the reader's tokens.read / tokens.lookup / deltas.read to return runs
    a full compact_deltas() on a second applier. The reads must still
    equal the replay oracle -- folded rows may be seen twice (LWW collapses
    them), never not at all."""
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    want = state_as_records(replay_binlog(binlog), table_schema_ver=0)
    early = state_as_records(replay_binlog(binlog, max_lsn=300), table_schema_ver=0)

    def racing_reader(wh):
        mk = lambda: CdcApplier(spark, wh, job_id="rc", n_buckets=8,  # noqa: E731
                                evolution=[], write_mode="mor")
        writer = mk()
        writer.run_backfill(binlog, epoch_size=300, stop_after=1)
        writer.compact_deltas()
        writer.run_backfill(binlog, epoch_size=300)  # epochs 1-2 stay deltas
        reader, compactor = mk(), mk()
        assert reader.tokens.row_count() > 0 and reader.deltas.row_count() > 0
        fired = []

        def race(fn):
            def wrapped(*a, **kw):
                out = fn(*a, **kw)
                if not fired:
                    fired.append(True)
                    compactor.compact_deltas()
                return out
            return wrapped

        for t, m in ((reader.tokens, "read"), (reader.tokens, "lookup"),
                     (reader.deltas, "read")):
            setattr(t, m, race(getattr(t, m)))
        return reader, fired

    reader, fired = racing_reader(str(tmp_path / "ws"))
    got = _rows(reader.state())
    assert fired and reader.deltas.row_count() == 0  # the race ran
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == list(w["tokens"]), k

    # a live doc whose current row arrived in the (now folded) deltas
    doc = sorted(
        k for k, w in want.items()
        if k not in early or list(early[k]["tokens"]) != list(w["tokens"])
    )[0]
    reader, fired = racing_reader(str(tmp_path / "wl"))
    rows = reader.lookup(doc).collect()
    assert fired and reader.deltas.row_count() == 0
    assert len(rows) == 1 and list(rows[0]["tokens"]) == list(want[doc]["tokens"])


def test_verify_epoch_receipts_expiry_without_compaction(spark, tmp_path):
    """Expiry of early APPEND snapshots without a prior compaction leaves
    the first retained snapshot carrying the cumulative file set of every
    expired epoch. The verifier must treat that snapshot as the diff
    BASELINE (unattributable epochs -> 'no_files_recorded'), not diff it
    against an empty set -- which would recompute one epoch's digest over
    all earlier epochs' rows and raise a false tamper alarm."""
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    ap = CdcApplier(spark, str(tmp_path / "wex"), job_id="vx", n_buckets=8,
                    evolution=[], write_mode="mor")
    stats = ap.run_backfill(binlog, epoch_size=150)
    n_epochs = len(stats)
    assert n_epochs >= 5
    ap.deltas.expire_snapshots(keep_last=2)  # NO compaction first
    res = {r["epoch"]: r["status"] for r in ap.verify_epoch_receipts()}
    assert len(res) == n_epochs
    assert "mismatch" not in res.values(), res  # no false tamper alarm
    # the last epoch's diff is still attributable and verifies clean
    assert res[n_epochs - 1] == "ok", res
    # everything at/below the truncated baseline is honestly unattributable
    assert all(s == "no_files_recorded" for e, s in res.items() if e < n_epochs - 1), res


def test_mor_auto_compaction_ratio_policy(spark, tmp_path):
    """auto_compact_ratio bounds read-merge cost by POLICY: compaction
    fires mid-backfill as soon as delta rows exceed ratio x base rows, and
    state equality with the replay oracle holds across the ratio-triggered
    folds (both serial and pipelined loops)."""
    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    ap = CdcApplier(spark, str(tmp_path / "wa"), job_id="ac", n_buckets=8,
                    evolution=[], write_mode="mor", auto_compact_ratio=0.5)
    ap.run_backfill(binlog, epoch_size=150)
    assert ap.compactions_run >= 1  # policy actually fired mid-backfill
    want = state_as_records(replay_binlog(binlog), table_schema_ver=0)
    got = _rows(ap.state())
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == list(w["tokens"]), k

    app = CdcApplier(spark, str(tmp_path / "wap"), job_id="ac", n_buckets=8,
                     evolution=[], write_mode="mor", auto_compact_ratio=0.5)
    app.run_backfill(binlog, epoch_size=150, pipelined=True)
    assert app.compactions_run >= 1
    assert _rows(app.state()) == got


def test_mor_stream_continues_backfill_job(spark, tmp_path):
    """Snapshot, then tail: a stream continues a backfill's job_id. Both
    resume from the committed lsn, so the stream drops what the backfill
    applied, numbers its epochs after the backfill's, and converges to the
    replay oracle with every epoch receipt verifying."""
    from stratum_spark.streaming import run_stream_until_idle

    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    wh = str(tmp_path / "wg")
    ap = CdcApplier(spark, wh, job_id="xm", n_buckets=8, evolution=[],
                    write_mode="mor")
    ap.run_backfill(binlog, epoch_size=200, stop_after=2)
    assert ap.epoch_state()["epoch"] == 1
    ap2 = CdcApplier(spark, wh, job_id="xm", n_buckets=8, evolution=[],
                     write_mode="mor")
    run_stream_until_idle(ap2, binlog, str(tmp_path / "ckptg"), max_files_per_trigger=1)
    st = replay_binlog(binlog)
    want = state_as_records(st, table_schema_ver=0)
    got = _rows(ap2.state())
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == list(w["tokens"]), k
    assert sorted(r["lsn"] for r in ap2.dlq.read().collect()) == sorted(st.dlq_lsns)
    mark = ap2.deltas.snapshot().committed["xm"]
    assert mark["epoch"] > 1 and "mode" not in mark
    res = ap2.verify_epoch_receipts()
    assert [r["epoch"] for r in res] == list(range(mark["epoch"] + 1))
    assert all(r["status"] == "ok" for r in res), res


def test_mor_stream_kill_between_append_and_checkpoint(spark, tmp_path):
    """Crash in the window between the delta append (epoch bookmark
    committed) and Spark's streaming checkpoint commit: the restarted
    stream replays micro-batch 0, and the (job_id, epoch) bookmark makes
    the replayed append a no-op -- no event applied twice."""
    import glob

    from stratum_spark.cdc.binlog import BINLOG_DDL
    from stratum_spark.streaming import run_stream_until_idle

    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    files = sorted(glob.glob(binlog + "/chunk-*.parquet"))
    wh = str(tmp_path / "wk")
    ap = CdcApplier(spark, wh, job_id="kc", n_buckets=8, evolution=[],
                    write_mode="mor")
    # simulate foreachBatch applying micro-batch 0, then dying before the
    # streaming checkpoint records it
    first = spark.read.schema(BINLOG_DDL).parquet(files[0])
    ap.apply_epoch(first, 0)
    ap.flush_lineage()
    assert ap.deltas.committed_epoch("kc") == 0

    ap2 = CdcApplier(spark, wh, job_id="kc", n_buckets=8, evolution=[],
                     write_mode="mor")
    run_stream_until_idle(ap2, binlog, str(tmp_path / "ckptk"), max_files_per_trigger=1)
    from stratum_spark.cdc.oracle import replay_binlog, state_as_records

    want = state_as_records(replay_binlog(binlog), table_schema_ver=0)
    got = _rows(ap2.state())
    assert set(got) == set(want)
    # the replayed micro-batch appended nothing: the killed-and-resumed
    # run's delta volume equals a clean one-shot run's
    clean = CdcApplier(spark, str(tmp_path / "wclean"), job_id="kc", n_buckets=8,
                       evolution=[], write_mode="mor")
    run_stream_until_idle(clean, binlog, str(tmp_path / "ckptclean"),
                          max_files_per_trigger=1)
    assert ap2.deltas.row_count() == clean.deltas.row_count()


def test_mor_stream_repeated_pause_resume_converges(spark, tmp_path):
    """The reference's repeated-pause convergence scenario
    (crates/engine-tests/src/resume.rs, third test) on the STREAMING mor
    path: the feed arrives in three installments with a process restart
    (fresh applier, same warehouse + checkpoint) between each; the final
    state equals a one-shot replay and no event applies twice."""
    import glob
    import os as _os
    import shutil as _sh

    from stratum_spark.streaming import run_stream_until_idle

    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    files = sorted(glob.glob(binlog + "/chunk-*.parquet"))
    live = tmp_path / "live"
    live.mkdir()
    wh, ckpt = str(tmp_path / "wr"), str(tmp_path / "ckr")
    ap = None
    for hi in (1, 2, len(files)):
        for f in files[:hi]:
            dst = live / _os.path.basename(f)
            if not dst.exists():
                _sh.copy2(f, dst)
        ap = CdcApplier(spark, wh, job_id="rr", n_buckets=8, evolution=[],
                        write_mode="mor")
        run_stream_until_idle(ap, str(live), ckpt, max_files_per_trigger=1)
    want = state_as_records(replay_binlog(binlog), table_schema_ver=0)
    got = _rows(ap.state())
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == list(w["tokens"]), k
    # no event applied twice: the thrice-resumed run's delta volume equals
    # a clean one-shot run's over the same feed (same per-file batches)
    clean = CdcApplier(spark, str(tmp_path / "wrclean"), job_id="rr", n_buckets=8,
                       evolution=[], write_mode="mor")
    run_stream_until_idle(clean, str(live), str(tmp_path / "ckrclean"),
                          max_files_per_trigger=1)
    assert ap.deltas.row_count() == clean.deltas.row_count()


def test_mor_streaming_end_to_end(spark, tmp_path):
    """MoR under Structured Streaming: foreachBatch epochs append deltas
    exactly-once; drain converges to the replay oracle."""
    from stratum_spark.streaming import run_stream_until_idle

    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    ap = CdcApplier(spark, str(tmp_path / "wst"), job_id="ms", n_buckets=8,
                    evolution=[], write_mode="mor")
    run_stream_until_idle(ap, binlog, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    ap.compact_deltas()
    st = replay_binlog(binlog)
    want = state_as_records(st, table_schema_ver=0)
    got = _rows(ap.state())
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == list(w["tokens"]), k


def test_binary_tokens_warehouse_is_rejected(spark, tmp_path):
    """Only array<int> token tables are supported: a warehouse whose
    tokens column is packed binary must fail on load instead of handing
    raw bytes to state()."""
    import pytest

    from stratum_spark.cdc import TOKENS_DDL
    from stratum_spark.lake import LakeTable

    wh = tmp_path / "wb"
    LakeTable.create(
        spark, str(wh / "tokens"),
        TOKENS_DDL.replace("tokens array<int>", "tokens binary"),
        key="doc_id", n_buckets=4,
    )
    with pytest.raises(ValueError, match="packed binary"):
        CdcApplier(spark, str(wh), write_mode="mor")


def test_legacy_base_bookmarks_seed_the_delta_table(spark, tmp_path):
    """A warehouse written by the earlier copy-on-write engine keeps its
    job bookmarks on the base and has no delta table. Opening it creates
    the delta table with those bookmarks (not the compactor's own), so a
    resumed backfill continues where the base stopped instead of
    replaying the feed, and a bookmark without lsn_max cannot be resumed
    by lsn."""
    import pytest

    from stratum_spark.cdc import TOKENS_DDL, lww_dedup
    from stratum_spark.lake import LakeTable

    binlog = _mk_feed(spark, tmp_path, with_evolution=False)
    wh = tmp_path / "wl"
    base = LakeTable.create(
        spark, str(wh / "tokens"), TOKENS_DDL, key="doc_id", n_buckets=8,
        properties={"schema_ver": "0"},
    )
    # epochs 0-1 (epoch_size 200) applied the legacy way: validated,
    # LWW-deduped events in one lsn-guarded MERGE carrying the bookmark
    head = spark.read.parquet(binlog).where(F.col("lsn") <= 400).where(
        (F.col("op") == "D") | F.col("n_tok").eqNullSafe(F.size("tokens"))
    )
    batch = lww_dedup(head.select("doc_id", "op", "lsn", "tokens", "n_tok", "source"))
    base.merge(batch, op_col="op", job_id="lg", epoch=1, lsn_max=400,
               precedence_col="lsn")
    base.merge(batch.limit(0), op_col="op", job_id="lg::compact", epoch=1)
    base.merge(batch.limit(0), op_col="op", job_id="lg_s", epoch=3)
    assert not LakeTable.exists(str(wh / "tokens_deltas"))

    ap = CdcApplier(spark, str(wh), job_id="lg", n_buckets=8, evolution=[])
    assert ap.epoch_state() == {"epoch": 1, "lsn": 400, "schema_ver": 0}
    assert set(ap.deltas.snapshot().committed) == {"lg", "lg_s"}
    assert ap.deltas.snapshot().version == 1  # carried in the create commit
    stats = ap.run_backfill(binlog, epoch_size=200)
    assert stats and min(s.epoch for s in stats) == 2  # epochs 0-1 skipped
    want = state_as_records(replay_binlog(binlog), table_schema_ver=0)
    got = _rows(ap.state())
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == list(w["tokens"]), k

    ap_s = CdcApplier(spark, str(wh), job_id="lg_s", n_buckets=8, evolution=[])
    with pytest.raises(ValueError, match="lsn"):
        ap_s.run_backfill(binlog, epoch_size=200)

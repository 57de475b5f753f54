"""Lake maintenance ops: orphan-file sweep and snapshot rollback.

Orphans are designed-in byproducts of the two-phase exactly-once protocol
(phase-1 files land before any snapshot references them — a crash or a
replayed epoch leaves them unreferenced); at 10^10-event scale that garbage
is worth reclaiming. Rollback mirrors Iceberg rollback_to_snapshot: a NEW
version whose content equals an old one, with the exactly-once bookmarks
rolling back alongside the data so replay converges (the reference's
resume-from-checkpoint contract, crates/engine-core/src/state/store.rs).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog
from stratum_spark.cdc.oracle import replay_binlog, state_as_records
from stratum_spark.cli import main

N_EVENTS = 900
N_DOCS = 150


def _mk_feed(spark, tmp_path, with_evolution=False):
    feed = generate_binlog(
        spark, n_docs=N_DOCS, n_events=N_EVENTS, seed=29, max_tokens=12,
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


def _backdate(root: str, seconds: float = 7200.0) -> None:
    """Make every file/dir under root look `seconds` old (deterministic
    grace-window control — never sleep in tests)."""
    past = time.time() - seconds
    for dirpath, dirnames, filenames in os.walk(root):
        for n in dirnames + filenames:
            os.utime(os.path.join(dirpath, n), (past, past))
        os.utime(dirpath, (past, past))


def test_remove_orphans_sweeps_uncommitted_only(spark, tmp_path):
    binlog = _mk_feed(spark, tmp_path)
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="j", n_buckets=8,
                    n_events_hint=N_EVENTS, write_mode="mor")
    ap.run_backfill(binlog, epoch_size=300)
    before = _rows(ap.state())

    # plant a phase-1 write that never commits (the crash window)
    slice0 = spark.read.parquet(binlog).where(F.col("lsn") <= 100)
    mapped = slice0.select("doc_id", "op", "lsn", "tokens", "n_tok", "source")
    orphan_entries = ap.deltas.write_epoch_files(mapped, clustered=False)
    assert orphan_entries
    _backdate(str(tmp_path / "wh"))

    swept = ap.remove_orphans(grace_sec=3600.0)
    assert swept["tokens_deltas"]["files_removed"] >= len(orphan_entries)
    assert swept["tokens_deltas"]["bytes_removed"] > 0
    # committed files all survive: state is byte-identical
    assert _rows(ap.state()) == before
    # the orphaned commit dirs are gone from disk
    for e in orphan_entries:
        assert not os.path.isfile(os.path.join(ap.deltas.root, e.path))
    # idempotent: a second sweep finds nothing
    again = ap.remove_orphans(grace_sec=3600.0)
    assert all(v["files_removed"] == 0 for v in again.values())


def test_remove_orphans_grace_protects_inflight(spark, tmp_path):
    binlog = _mk_feed(spark, tmp_path)
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="j", n_buckets=8,
                    n_events_hint=N_EVENTS, write_mode="mor")
    ap.run_backfill(binlog, epoch_size=300)
    slice0 = spark.read.parquet(binlog).where(F.col("lsn") <= 100)
    mapped = slice0.select("doc_id", "op", "lsn", "tokens", "n_tok", "source")
    entries = ap.deltas.write_epoch_files(mapped, clustered=False)
    # files are FRESH (an in-flight pipelined prefetch looks exactly like
    # this): the default grace must keep them
    swept = ap.deltas.remove_orphaned_files(grace_sec=3600.0)
    assert swept["files_removed"] == 0
    for e in entries:
        assert os.path.isfile(os.path.join(ap.deltas.root, e.path))
    # a dir holding Spark staging is skipped even when backdated
    staged = os.path.join(ap.deltas.root, "data", "inprogress123")
    os.makedirs(os.path.join(staged, "_temporary"))
    with open(os.path.join(staged, "part-00000-x.parquet"), "wb") as fh:
        fh.write(b"\x00" * 16)
    _backdate(staged)
    swept = ap.deltas.remove_orphaned_files(grace_sec=3600.0)
    assert os.path.isfile(os.path.join(staged, "part-00000-x.parquet"))


def test_rollback_then_replay_converges(spark, tmp_path):
    binlog = _mk_feed(spark, tmp_path)
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="j", n_buckets=8,
                    n_events_hint=N_EVENTS, write_mode="mor")
    ap.run_backfill(binlog, epoch_size=300)  # 3 epochs
    want = _rows(ap.state())
    assert ap.deltas.committed_epoch("j") == 2

    # find the snapshot version whose bookmark says epoch 0 committed
    v_epoch0 = next(
        s.version for s in ap.deltas.history()
        if s.committed.get("j", {}).get("epoch") == 0
    )
    new_v = ap.deltas.rollback(v_epoch0)
    assert new_v > v_epoch0  # history preserved: rollback is a new version
    assert ap.deltas.committed_epoch("j") == 0  # bookmark rolled back too

    # replay from the rolled-back bookmark: exactly-once resume converges
    # to the identical final state
    ap2 = CdcApplier(spark, str(tmp_path / "wh"), job_id="j", n_buckets=8,
                     n_events_hint=N_EVENTS, write_mode="mor")
    ap2.run_backfill(binlog, epoch_size=300)
    got = _rows(ap2.state())
    assert got == want
    oracle = state_as_records(replay_binlog(binlog), table_schema_ver=0)
    assert set(got) == set(oracle)
    for k, w in oracle.items():
        assert got[k]["tokens"] == list(w["tokens"]), k

    # the first run's superseded epoch-1/2 files are still referenced by
    # RETAINED history (rollback preserves it), so the orphan sweep must
    # NOT touch them...
    _backdate(str(tmp_path / "wh"))
    swept = ap2.remove_orphans(grace_sec=3600.0)
    assert swept["tokens_deltas"]["files_removed"] == 0
    # ...until the history is expired — the Iceberg flow (expire, then
    # sweep) reclaims them and the state is untouched
    exp = ap2.deltas.expire_snapshots(keep_last=1)
    assert exp["files_removed"] > 0
    assert _rows(ap2.state()) == got


def test_cow_rollback_moves_base_with_deltas(spark, tmp_path):
    """Under the copy-on-write preset every epoch is folded into the base,
    so a rollback must move the base with the deltas: the base alone would
    otherwise still hold the later epochs (deleted documents would come
    back through the restored delta rows), and a replay would find its
    epochs already folded and lose them at the truncate."""
    import pytest

    binlog = _mk_feed(spark, tmp_path)
    wh = str(tmp_path / "wh")
    ap = CdcApplier(spark, wh, job_id="j", n_buckets=8, evolution=[])
    ap.run_backfill(binlog, epoch_size=300)  # 3 epochs, each folded
    assert ap.deltas.row_count() == 0
    assert ap.tokens.committed_epoch("j::compact") == 2
    v_epoch0 = next(
        s.version for s in ap.deltas.history()
        if s.committed.get("j", {}).get("epoch") == 0
    )
    at_epoch0 = state_as_records(replay_binlog(binlog, max_lsn=300), table_schema_ver=0)

    def check(got, want):
        assert set(got) == set(want)
        for k, w in want.items():
            assert got[k]["tokens"] == list(w["tokens"]), k

    # the deltas alone rolled back (a crash between the rollback's two
    # commits): the fold refuses instead of truncating the replay
    ap.deltas.rollback(v_epoch0)
    with pytest.raises(ValueError, match="folded epoch 2"):
        ap.compact_deltas()
    # re-running the rollback completes it: no later epoch shows through
    ap.rollback(v_epoch0)
    assert ap.deltas.committed_epoch("j") == 0
    assert ap.tokens.committed_epoch("j::compact") == 0
    check(_rows(ap.state()), at_epoch0)

    # the same feed replays to the full state
    ap2 = CdcApplier(spark, wh, job_id="j", n_buckets=8, evolution=[])
    assert [s.epoch for s in ap2.run_backfill(binlog, epoch_size=300)] == [1, 2]
    check(_rows(ap2.state()), state_as_records(replay_binlog(binlog), table_schema_ver=0))

    # a corrected feed (later epochs' tokens reversed, some events
    # dropped) replays over the same rollback to ITS state, in the base
    feed = spark.read.parquet(binlog)
    late = F.col("lsn") > 300
    fixed = str(tmp_path / "binlog_fixed")
    write_binlog(
        feed.where(~(late & (F.col("lsn") % 5 == 0))).withColumn(
            "tokens", F.when(late, F.reverse("tokens")).otherwise(F.col("tokens"))
        ),
        fixed, n_chunks=3,
    )
    want = state_as_records(replay_binlog(fixed), table_schema_ver=0)
    assert want != state_as_records(replay_binlog(binlog), table_schema_ver=0)
    ap2.rollback(v_epoch0)
    check(_rows(ap2.state()), at_epoch0)
    ap3 = CdcApplier(spark, wh, job_id="j", n_buckets=8, evolution=[])
    assert [s.epoch for s in ap3.run_backfill(fixed, epoch_size=300)] == [1, 2]
    check(_rows(ap3.state()), want)
    check(_rows(ap3.tokens.read()), want)


def test_cli_gc_and_rollback_verbs(spark, tmp_path, capsys):
    binlog = _mk_feed(spark, tmp_path)
    wh = str(tmp_path / "wh")
    args = ["--warehouse", wh, "--events-hint", str(N_EVENTS), "--n-buckets", "8"]
    assert main(["backfill", "--binlog", binlog, "--epoch-size", "300", *args]) == 0
    capsys.readouterr()

    # orphan a phase-1 write, backdate, sweep via the CLI
    ap = CdcApplier(spark, wh, job_id="cdc", n_buckets=8,
                    n_events_hint=N_EVENTS, write_mode="mor")
    slice0 = spark.read.parquet(binlog).where(F.col("lsn") <= 100)
    ap.deltas.write_epoch_files(
        slice0.select("doc_id", "op", "lsn", "tokens", "n_tok", "source"),
        clustered=False,
    )
    _backdate(wh)
    assert main(["gc", "--grace-sec", "3600", *args]) == 0
    out = capsys.readouterr().out
    assert "tokens_deltas:" in out and "total:" in out

    # rollback verb: epoch bookmark visibly rolls back
    v_epoch0 = next(
        s.version for s in ap.deltas.history()
        if s.committed.get("cdc", {}).get("epoch") == 0
    )
    assert main(["rollback", "--version", str(v_epoch0), *args]) == 0
    out = capsys.readouterr().out
    assert "epoch=0" in out
    assert main(["rollback", "--version", "999999", *args]) == 1


# ---------------------------------------------------------------------------
# size-aware bin-pack compaction (Iceberg rewrite_data_files BinPackStrategy
# analog): coalesce only small files, leave healthy files' bytes untouched,
# preserve bucket-set signatures so pruning is unharmed.
# ---------------------------------------------------------------------------


def test_binpack_coalesces_small_files_and_preserves_state(spark, tmp_path):
    from stratum_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "bp"),
        "doc_id string, tokens array<int>, n_tok int, source string",
        key="doc_id", n_buckets=4,
    )
    # several small appends -> many small files per bucket signature
    for i in range(4):
        rows = [(f"d{i}_{j}", [1, 2, j], 3, "s") for j in range(30)]
        t.append(spark.createDataFrame(rows, t.snapshot().schema.spark_schema()))
    snap0 = t.snapshot()
    before = {r["doc_id"]: list(r["tokens"]) for r in t.read().collect()}
    n_files0 = len(snap0.files)
    assert n_files0 >= 8  # enough stragglers to pack
    # every entry carries the manifest size (written by _parquet_footer)
    assert all(e.size_bytes is not None and e.size_bytes > 0 for e in snap0.files)

    r = t.compact_binpack(small_file_bytes=1 << 20, target_file_bytes=64 << 20)
    assert r["files_in"] >= 2 and r["files_out"] < r["files_in"]
    snap1 = t.snapshot()
    assert len(snap1.files) < n_files0
    # rows verbatim: state invariant
    after = {r["doc_id"]: list(r["tokens"]) for r in t.read().collect()}
    assert after == before
    # bucket-set signatures preserved: for every bucket, reads prune to the
    # same rows as the full read
    for b in range(4):
        got = {r["doc_id"] for r in t.read_buckets([b]).collect()}
        import pyspark.sql.functions as F
        want = {r["doc_id"] for r in t.read().withColumn(
            "__b", t._bucket_expr("doc_id")).where(F.col("__b") == b).collect()}
        assert got >= want  # pruned read covers the bucket's rows
    # incremental read across a pure rewrite diffs to ZERO rows
    assert t.read_changes(snap0.version, snap1.version).count() == 0


def test_binpack_leaves_large_files_untouched(spark, tmp_path):
    from stratum_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "bp2"),
        "doc_id string, tokens array<int>, n_tok int, source string",
        key="doc_id", n_buckets=2,
    )
    rows = [(f"big{j}", list(range(50)), 50, "s") for j in range(2000)]
    t.append(spark.createDataFrame(rows, t.snapshot().schema.spark_schema()))
    big_paths = {e.path for e in t.snapshot().files}
    for i in range(2):
        t.append(spark.createDataFrame(
            [(f"sm{i}_{j}", [1], 1, "s") for j in range(5)],
            t.snapshot().schema.spark_schema()))
    big_bytes = min(e.size_bytes for e in t.snapshot().files if e.path in big_paths)
    r = t.compact_binpack(small_file_bytes=min(big_bytes, 1 << 20),
                          target_file_bytes=64 << 20)
    assert r["files_in"] >= 2
    # the big files' paths survive the rewrite byte-identical (not rewritten)
    assert big_paths <= {e.path for e in t.snapshot().files}


def test_binpack_preserves_column_bounds_stats(spark, tmp_path):
    """Delta-style tables carry per-file lsn bounds; bin-pack must keep the
    stats on the rewritten files (lineage offset ranges stay metadata-only)."""
    from stratum_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "bp3"),
        "doc_id string, lsn bigint, op string", key=None, n_buckets=4,
    )
    schema = t.snapshot().schema.spark_schema()
    for i in range(3):
        df = spark.createDataFrame(
            [(f"d{j}", i * 100 + j, "U") for j in range(50)], schema).coalesce(1)
        entries = t._write_data(df.withColumn(
            "_bucket", F.lit(0)), t.snapshot(), clustered=False, stats_cols=("lsn",))
        t._append_files_with_retry(entries)
    assert all(e.stats and "lsn" in e.stats for e in t.snapshot().files)
    lo = min(e.stats["lsn"][0] for e in t.snapshot().files)
    hi = max(e.stats["lsn"][1] for e in t.snapshot().files)
    r = t.compact_binpack(small_file_bytes=1 << 20, target_file_bytes=64 << 20)
    assert r["files_in"] == 3 and r["files_out"] == 1
    e = t.snapshot().files[-1]
    assert e.stats and e.stats["lsn"] == (lo, hi)
    assert t.read().count() == 150


def test_binpack_legacy_entries_without_size_fall_back_to_getsize(spark, tmp_path):
    import dataclasses
    from stratum_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "bp4"),
        "doc_id string, tokens array<int>, n_tok int, source string",
        key="doc_id", n_buckets=2,
    )
    for i in range(2):
        t.append(spark.createDataFrame(
            [(f"d{i}_{j}", [1, 2], 2, "s") for j in range(10)],
            t.snapshot().schema.spark_schema()))
    # simulate pre-size_bytes manifests
    snap = t.snapshot()
    stripped = dataclasses.replace(
        snap, version=snap.version + 1,
        files=[dataclasses.replace(e, size_bytes=None) for e in snap.files])
    t._write_snapshot(stripped)
    before = {r["doc_id"] for r in t.read().collect()}
    r = t.compact_binpack(small_file_bytes=1 << 20)
    assert r["files_in"] >= 2
    assert {r["doc_id"] for r in t.read().collect()} == before


def test_cli_binpack_verb(spark, tmp_path, capsys):
    feed = _mk_feed(spark, tmp_path)
    wh = str(tmp_path / "whbp")
    assert main(["backfill", "--warehouse", wh, "--binlog", feed,
                 "--job-id", "m", "--epoch-size", "300"]) == 0
    assert main(["binpack", "--warehouse", wh, "--job-id", "m",
                 "--small-mb", "1", "--target-mb", "64"]) == 0
    out = capsys.readouterr().out
    assert "tokens_deltas:" in out and "files_in=" in out


def test_binpack_driver_fast_path_runs_zero_spark_jobs(spark, tmp_path,
                                                       monkeypatch):
    """Small same-schema groups concatenate driver-side with pyarrow --
    the Spark write path must never be touched (this is what lets the
    applier's lineage worker bin-pack per-epoch metadata files without
    cluster jobs)."""
    from stratum_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "bp5"),
        "doc_id string, tokens array<int>, n_tok int, source string",
        key="doc_id", n_buckets=2,
    )
    for i in range(3):
        t.append(spark.createDataFrame(
            [(f"d{i}_{j}", [i, j], 2, "s") for j in range(20)],
            t.snapshot().schema.spark_schema()))
    before = {r["doc_id"]: list(r["tokens"]) for r in t.read().collect()}

    def no_spark(*a, **kw):
        raise AssertionError("Spark write path used for a driver-size group")

    monkeypatch.setattr(t, "_write_data", no_spark)
    r = t.compact_binpack(small_file_bytes=1 << 20, target_file_bytes=64 << 20)
    assert r["files_in"] >= 2 and r["driver_groups"] == r["groups"] > 0
    after = {r2["doc_id"]: list(r2["tokens"]) for r2 in t.read().collect()}
    assert after == before


def test_commit_rewrite_rebases_onto_concurrent_append(spark, tmp_path):
    """A rewrite commit that loses the race to a concurrent APPEND must
    rebase: the appended file is kept, the rewrite's inputs are replaced
    by its outputs. An input removed by a concurrent rewrite aborts."""
    import pytest
    from stratum_spark.lake.table import CommitConflict, LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "bp6"),
        "doc_id string, tokens array<int>, n_tok int, source string",
        key="doc_id", n_buckets=2,
    )
    sch = t.snapshot().schema.spark_schema()
    for i in range(2):
        t.append(spark.createDataFrame(
            [(f"a{i}_{j}", [i], 1, "s") for j in range(10)], sch))
    snap0 = t.snapshot()
    inputs = list(snap0.files)
    sig = tuple(sorted({b for e in inputs for b in e.buckets}))
    packed = t._binpack_group_local(inputs, sig, snap0, ())
    # concurrent append lands AFTER the rewrite planned against snap0
    t.append(spark.createDataFrame([("c_0", [9], 1, "s")], sch))
    t._commit_rewrite({e.path for e in inputs}, [packed], snap0)
    snap = t.snapshot()
    paths = {e.path for e in snap.files}
    assert packed.path in paths
    assert not any(e.path in paths for e in inputs)
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == {f"a{i}_{j}" for i in range(2) for j in range(10)} | {"c_0"}
    # abandoned case: an input that no longer exists aborts the rewrite
    with pytest.raises(CommitConflict, match="abandoning"):
        t._commit_rewrite({"data/deadbeef/gone.parquet"}, [packed], snap)


def test_auto_binpack_caps_lineage_file_count(spark, tmp_path, monkeypatch):
    """One tiny lineage file lands per epoch (and one DLQ file per bad-row
    epoch); every _BINPACK_EPOCHS epochs each table's own single worker
    folds them (driver-side, zero Spark jobs) with CONTENT unchanged and
    exactly-once bookmarks intact."""
    import stratum_spark.cdc.applier as applier_mod

    feed = _mk_feed(spark, tmp_path)
    monkeypatch.setattr(applier_mod, "_BINPACK_EPOCHS", 2)
    monkeypatch.setattr(applier_mod, "_META_KEEP", 2)  # make expiry bite at 9 epochs
    ap = CdcApplier(spark, str(tmp_path / "whab"), job_id="m", n_buckets=8,
                    evolution=[], write_mode="mor")
    ap.run_backfill(feed, epoch_size=100)  # 9 epochs
    ap.flush_lineage()
    n_epochs = N_EVENTS // 100
    files = ap.lineage.snapshot().files
    assert len(files) < n_epochs, f"{len(files)} lineage files for {n_epochs} epochs"
    eps = sorted(r["epoch"] for r in ap.lineage.read().where(
        F.col("partition_id") == -1).collect())
    assert eps == list(range(n_epochs))
    # DLQ packed too: content equals the replay oracle's skipped lsns and
    # the (job_id, epoch) bookmark survived the rewrites
    dlq_lsns = sorted(r["lsn"] for r in ap.dlq.read().collect())
    assert dlq_lsns == sorted(replay_binlog(feed).dlq_lsns)
    assert ap.dlq.committed_epoch("m") >= 0
    # resume is still a full no-op on the packed warehouse
    ap2 = CdcApplier(spark, str(tmp_path / "whab"), job_id="m", n_buckets=8,
                     evolution=[], write_mode="mor")
    stats = ap2.run_backfill(feed, epoch_size=100)
    assert all(s.skipped for s in stats)
    assert sorted(r["lsn"] for r in ap2.dlq.read().collect()) == dlq_lsns
    # maintenance EXPIRES superseded history too, so the pre-pack small
    # files actually left the disk and the version log is bounded
    import glob
    on_disk = glob.glob(os.path.join(ap.lineage.root, "data", "*", "*.parquet"))
    # bounded: the retained 2 versions reference at most the previous
    # pack's output + the appends since it (vs 9 per-epoch files unpacked)
    assert len(on_disk) <= len(files) + 3, on_disk
    metas = [f for f in os.listdir(os.path.join(ap.lineage.root, "_meta"))
             if f.startswith("v")]
    assert len(metas) <= 2 + 2


# ---------------------------------------------------------------------------
# bucket-count evolution (Iceberg partition-spec evolution analog): growing
# to a multiple is METADATA-ONLY (pmod refines: h%old==b => h%new in
# {b+j*old}); non-multiples fall back to a full clustered rewrite.
# ---------------------------------------------------------------------------


def test_rebucket_multiple_is_metadata_only(spark, tmp_path):
    from stratum_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "rb"),
        "doc_id string, tokens array<int>, n_tok int, source string",
        key="doc_id", n_buckets=4,
    )
    t.append(spark.createDataFrame(
        [(f"d{j}", [j], 1, "s") for j in range(200)],
        t.snapshot().schema.spark_schema()))
    snap0 = t.snapshot()
    paths0 = {e.path for e in snap0.files}
    before = {r["doc_id"] for r in t.read().collect()}

    v = t.rebucket(16)
    snap1 = t.snapshot()
    assert snap1.version == v and snap1.n_buckets == 16
    # metadata-only: the exact same files, zero data movement
    assert {e.path for e in snap1.files} == paths0
    # derived sets: each old bucket b -> {b, b+4, b+8, b+12}
    by_path0 = {e.path: e.buckets for e in snap0.files}
    for e in snap1.files:
        want = tuple(sorted(b + j * 4 for b in by_path0[e.path] for j in range(4)))
        assert e.buckets == want
    assert {r["doc_id"] for r in t.read().collect()} == before
    # pruned reads at the NEW granularity are exact vs the new bucket expr
    for b in (0, 5, 11, 15):
        got = {r["doc_id"] for r in t.read_buckets([b]).collect()}
        want = {r["doc_id"] for r in t.read().withColumn(
            "__b", t._bucket_expr("doc_id")).where(F.col("__b") == b).collect()}
        assert got >= want
    # a MERGE after rebucket works and prunes on the new ids
    up = spark.createDataFrame(
        [("d0", [99], 1, "s", "U")],
        "doc_id string, tokens array<int>, n_tok int, source string, op string")
    m = t.merge(up, op_col="op", job_id="r", epoch=0)
    assert m.rows_updated == 1
    got = next(r for r in t.read().collect() if r["doc_id"] == "d0")
    assert list(got["tokens"]) == [99]


def test_rebucket_non_multiple_full_rewrite(spark, tmp_path):
    from stratum_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "rb2"),
        "doc_id string, tokens array<int>, n_tok int, source string",
        key="doc_id", n_buckets=4,
    )
    t.append(spark.createDataFrame(
        [(f"d{j}", [j], 1, "s") for j in range(100)],
        t.snapshot().schema.spark_schema()))
    paths0 = {e.path for e in t.snapshot().files}
    before = {r["doc_id"] for r in t.read().collect()}
    t.rebucket(6)
    snap = t.snapshot()
    assert snap.n_buckets == 6
    assert not paths0 & {e.path for e in snap.files}  # rewritten
    assert {r["doc_id"] for r in t.read().collect()} == before
    # keyless tables refuse
    import pytest
    tk = LakeTable.create(spark, str(tmp_path / "rb3"), "a int", n_buckets=2)
    with pytest.raises(ValueError, match="merge key"):
        tk.rebucket(4)


def test_rebucket_midway_through_cdc_converges(spark, tmp_path, capsys):
    """Backfill half the feed at 8 buckets, rebucket the base table to 32
    via the CLI (metadata-only), resume the rest with a fresh applier:
    replay must converge to the sequential oracle (cow mode so every epoch
    exercises the bucket-pruned MERGE at the new count)."""
    feed = _mk_feed(spark, tmp_path)
    wh = str(tmp_path / "whrb")
    ap = CdcApplier(spark, wh, job_id="r", n_buckets=8, evolution=[],
                    write_mode="cow", n_events_hint=N_EVENTS)
    ap.run_backfill(feed, epoch_size=300, stop_after=2)  # epochs 0-1 of 3

    assert main(["rebucket", "--warehouse", wh, "--job-id", "r",
                 "--compact-ratio", "0", "--to", "32"]) == 0
    out = capsys.readouterr().out
    assert "8 -> 32" in out and "metadata-only" in out

    ap2 = CdcApplier(spark, wh, job_id="r", n_buckets=8, evolution=[],
                     write_mode="cow", n_events_hint=N_EVENTS)
    assert ap2.tokens.snapshot().n_buckets == 32
    ap2.run_backfill(feed, epoch_size=300)
    got = _rows(ap2.state())
    oracle = state_as_records(replay_binlog(feed), table_schema_ver=0)
    assert set(got) == set(oracle)
    for k, w in oracle.items():
        assert got[k]["tokens"] == list(w["tokens"]), k


def test_lake_maintenance_ops_fuzz(spark, tmp_path):
    """Seeded ops-fuzz over the WHOLE maintenance surface: random
    interleavings of MERGE (I/U/D), bin-pack, whole-bucket compaction,
    bucket-count evolution (multiples and non-multiples), rollback and
    snapshot expiry -- after every op the table content must equal a
    pure-Python model (and rollback must restore the model recorded at
    the target version). The maintenance ops are content-invariant by
    contract; this is the test that holds them to it under composition."""
    import random
    from stratum_spark.lake.table import LakeTable

    up_schema = ("doc_id string, tokens array<int>, n_tok int, "
                 "source string, op string")

    for seed in (7, 23):
        rng = random.Random(seed)
        t = LakeTable.create(
            spark, str(tmp_path / f"fz{seed}"),
            "doc_id string, tokens array<int>, n_tok int, source string",
            key="doc_id", n_buckets=4,
        )
        model: dict[str, list[int]] = {}
        content_at: dict[int, dict] = {t.snapshot().version: dict(model)}
        next_doc = 0
        for step in range(14):
            op = rng.choice(["merge", "merge", "merge", "binpack", "compact",
                             "rebucket", "rollback", "expire"])
            if op == "merge":
                rows = []
                for _ in range(rng.randint(2, 10)):
                    kind = rng.choice(["I", "U", "D"])
                    if kind == "I" or not model:
                        doc, kind = f"d{next_doc}", "I"
                        next_doc += 1
                    else:
                        doc = rng.choice(sorted(model))
                    toks = [rng.randint(0, 99) for _ in range(rng.randint(1, 5))]
                    rows.append((doc, toks, len(toks), "s", kind))
                    if kind == "D":
                        model.pop(doc, None)
                    else:
                        model[doc] = toks
                # last-in-batch wins in the model; dedupe the batch to match
                seen = {}
                for r in rows:
                    seen[r[0]] = r
                t.merge(spark.createDataFrame(list(seen.values()), up_schema),
                        op_col="op", job_id=f"f{seed}", epoch=step)
            elif op == "binpack":
                t.compact_binpack(small_file_bytes=1 << 20)
            elif op == "compact":
                t.compact(target_files_per_bucket=1)
            elif op == "rebucket":
                cur = t.snapshot().n_buckets
                t.rebucket(rng.choice([c for c in (4, 6, 8, 12) if c != cur]))
            elif op == "rollback":
                versions = [s.version for s in t.history()]
                v = rng.choice(versions[:-1]) if len(versions) > 1 else versions[0]
                if v in content_at:
                    t.rollback(v)
                    model = dict(content_at[v])
            elif op == "expire":
                t.expire_snapshots(keep_last=rng.randint(4, 8))
            got = {r["doc_id"]: list(r["tokens"] or []) for r in t.read().collect()}
            assert got == model, f"seed {seed} step {step} op {op}"
            content_at[t.snapshot().version] = dict(model)

"""Structured Streaming ingest: drain, restart-from-checkpoint, late files.

The streaming analog of the reference's pause/resume lifecycle
(crates/cli/src/commands/mod.rs:9-18, crates/engine-tests/src/resume.rs).
"""

from __future__ import annotations

import shutil

import pytest

from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog
from stratum_spark.cdc.oracle import replay_binlog, state_as_records
from stratum_spark.streaming import run_stream_until_idle

N_DOCS, N_EVENTS = 200, 1500


@pytest.fixture(scope="module")
def chunks(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_binlog")
    df = generate_binlog(spark, n_docs=N_DOCS, n_events=N_EVENTS, seed=11, max_tokens=16)
    files = write_binlog(df, str(d), n_chunks=6)
    return str(d), files


def state_of(ap):
    return {r["doc_id"]: r.asDict() for r in ap.state().collect()}


def oracle_state(binlog_dir):
    st = replay_binlog(binlog_dir)
    return state_as_records(st, table_schema_ver=3)


def test_stream_drain_matches_oracle(spark, chunks, tmp_path):
    binlog_dir, _ = chunks
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="s1", n_buckets=8,
                    n_events_hint=N_EVENTS)
    run_stream_until_idle(ap, binlog_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    want = oracle_state(binlog_dir)
    got = state_of(ap)
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["tokens"] == w["tokens"] and g["corpus"] == w["corpus"] and g["lang"] == w["lang"]
    assert ap.epoch_state()["schema_ver"] == 3
    # streaming epochs persist batch receipts too (explicit digest job --
    # Observation can't resolve inside foreachBatch)
    receipts = ap.epoch_receipts()
    assert len(receipts) >= 6 and all(r["n_rows"] >= 0 and r["root"] for r in receipts)


def test_stream_restart_from_checkpoint(spark, chunks, tmp_path):
    """Feed arrives in two installments with a stop/restart between (the
    kill-and-resume scenario); final state must equal a one-shot replay."""
    binlog_dir, files = chunks
    live = tmp_path / "live"
    live.mkdir()
    for f in files[:3]:
        shutil.copy2(f, live)

    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    ap1 = CdcApplier(spark, wh, job_id="s2", n_buckets=8, n_events_hint=N_EVENTS)
    run_stream_until_idle(ap1, str(live), ckpt, max_files_per_trigger=1)
    mid_epoch = ap1.epoch_state()["epoch"]
    assert mid_epoch >= 0

    for f in files[3:]:
        shutil.copy2(f, live)
    # fresh applier object = process restart; same warehouse + checkpoint
    ap2 = CdcApplier(spark, wh, job_id="s2", n_buckets=8, n_events_hint=N_EVENTS)
    run_stream_until_idle(ap2, str(live), ckpt, max_files_per_trigger=1)

    want = oracle_state(binlog_dir)
    got = state_of(ap2)
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == w["tokens"]
    n = ap2.tokens.read().count()
    nd = ap2.tokens.read().select("doc_id").distinct().count()
    assert n == nd


def test_stream_restart_on_fresh_checkpoint(spark, chunks, tmp_path):
    """The checkpoint is lost and the restart batches 3 files per trigger:
    Spark regroups all six files from scratch, and the job keeps only rows
    above its committed lsn, so the two files that landed since apply once.
    The delta volume equals a run that kept its checkpoint."""
    binlog_dir, files = chunks

    def run(name, ckpt2):
        live = tmp_path / f"live_{name}"
        live.mkdir()
        for f in files[:4]:
            shutil.copy2(f, live)
        wh = str(tmp_path / f"wh_{name}")
        ap = CdcApplier(spark, wh, job_id="s3", n_buckets=8, n_events_hint=N_EVENTS,
                        write_mode="mor")
        run_stream_until_idle(ap, str(live), str(tmp_path / f"ckpt_{name}"),
                              max_files_per_trigger=1)
        for f in files[4:]:
            shutil.copy2(f, live)
        ap = CdcApplier(spark, wh, job_id="s3", n_buckets=8, n_events_hint=N_EVENTS,
                        write_mode="mor")
        run_stream_until_idle(ap, str(live), str(tmp_path / ckpt2), max_files_per_trigger=3)
        return ap

    ap = run("lost", "ckpt_fresh")
    want = oracle_state(binlog_dir)
    got = state_of(ap)
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == w["tokens"], k
    clean = run("kept", "ckpt_kept")
    assert ap.deltas.row_count() == clean.deltas.row_count()


def test_stream_restart_restores_lost_dlq_flushes(spark, chunks, tmp_path):
    """Every DLQ flush of a drain is lost. Spark never redelivers a batch
    it has checkpointed, so the restart on the same checkpoint restores
    the DLQ rows from the feed, and a second restart changes nothing."""
    binlog_dir, _ = chunks
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")

    def applier():
        return CdcApplier(spark, wh, job_id="s4", n_buckets=8, n_events_hint=N_EVENTS,
                          write_mode="mor")

    ap = applier()
    ap._append_dlq_rows = lambda *a: 0
    run_stream_until_idle(ap, binlog_dir, ckpt, max_files_per_trigger=2)
    assert ap.dlq.row_count() == 0 and ap.epoch_state()["epoch"] >= 0
    epoch = ap.epoch_state()["epoch"]

    want = sorted(replay_binlog(binlog_dir).dlq_lsns)
    got = []
    for _ in range(2):
        ap = applier()
        run_stream_until_idle(ap, binlog_dir, ckpt, max_files_per_trigger=2)
        got.append(sorted(r["lsn"] for r in ap.dlq.read().collect()))
    assert want and got == [want, want]
    assert ap.epoch_state()["epoch"] == epoch

"""Merkle verification tests, mirroring crates/engine-tests/src/verify.rs:
clean match, tamper detection (modified/deleted/inserted), idempotent
verify, per-row divergence drill-down."""

from __future__ import annotations

from pyspark.sql import functions as F

from stratum_spark.verify import merkle_receipt, row_diff, verify_receipt


def base(spark):
    return spark.createDataFrame(
        [(i, f"text-{i}", float(i) / 3.0, list(range(i % 5))) for i in range(200)],
        "id bigint, text string, score double, toks array<int>",
    )


def test_clean_match_and_idempotence(spark):
    df = base(spark)
    r = merkle_receipt(df, key="id", n_buckets=16)
    assert r.n_rows == 200
    assert verify_receipt(df, "id", r)["match"]
    # idempotent: same receipt twice, same roots
    r2 = merkle_receipt(df, key="id", n_buckets=16)
    assert r.root == r2.root and r.bucket_roots == r2.bucket_roots


def test_order_independence(spark):
    df = base(spark)
    r1 = merkle_receipt(df.orderBy(F.rand(7)), "id")
    r2 = merkle_receipt(df.orderBy("id"), "id")
    assert r1.root == r2.root


def test_tamper_modified_row(spark):
    df = base(spark)
    r = merkle_receipt(df, "id", n_buckets=16)
    tampered = df.withColumn(
        "score", F.when(F.col("id") == 42, F.lit(999.0)).otherwise(F.col("score"))
    )
    res = verify_receipt(tampered, "id", r)
    assert not res["match"] and len(res["bad_buckets"]) == 1

    diff = row_diff(df, tampered, "id").collect()
    assert [(d["id"], d["status"]) for d in diff] == [(42, "modified")]


def test_tamper_deleted_and_inserted(spark):
    df = base(spark)
    r = merkle_receipt(df, "id", n_buckets=16)
    deleted = df.where(F.col("id") != 7)
    res = verify_receipt(deleted, "id", r)
    assert not res["match"] and res["row_count_delta"] == -1

    extra = df.unionByName(
        df.limit(1).select(
            F.lit(9999).cast("bigint").alias("id"), F.lit("x").alias("text"),
            F.lit(0.0).alias("score"), F.col("toks"),
        )
    )
    res2 = verify_receipt(extra, "id", r)
    assert not res2["match"] and res2["row_count_delta"] == 1
    d = row_diff(df, extra, "id").collect()
    assert [(x["id"], x["status"]) for x in d] == [(9999, "unexpected")]


def test_tamper_in_token_array(spark):
    """Per-row token-array equality: a single changed token id flips the hash."""
    df = base(spark)
    r = merkle_receipt(df, "id")
    t = df.withColumn(
        "toks",
        F.when(F.col("id") == 100, F.array(F.lit(1), F.lit(2))).otherwise(F.col("toks")),
    )
    assert not verify_receipt(t, "id", r)["match"]
    d = row_diff(df, t, "id").collect()
    assert [(x["id"], x["status"]) for x in d] == [(100, "modified")]


def test_per_epoch_receipts_persisted_during_apply(spark, tmp_path):
    """The applier persists a batch receipt per epoch DURING apply (the
    reference persists receipts in-run, producer/components/integrity.rs:
    75-89): one JSON per committed epoch, deterministic across a replay of
    the same feed, plus the on-demand full-table receipt still verifies."""
    from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog

    feed = generate_binlog(spark, n_docs=80, n_events=400, seed=5, max_tokens=8,
                           with_evolution=False)
    write_binlog(feed, str(tmp_path / "binlog"), n_chunks=2)
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="rcpt", n_buckets=4,
                    evolution=[])
    stats = ap.run_backfill(str(tmp_path / "binlog"), epoch_size=100)
    applied = [s for s in stats if not s.skipped]
    receipts = ap.epoch_receipts()
    assert len(receipts) == len(applied) > 1
    by_epoch = {r["epoch"]: r for r in receipts}
    for s in applied:
        # the receipt hashes the LWW-DEDUPED change batch (what the merge
        # consumed): at most one row per key, never more than rows_in
        assert 0 < by_epoch[s.epoch]["n_rows"] <= s.rows_in - s.rows_dlq
        assert by_epoch[s.epoch]["n_rows"] >= s.rows_deduped
    # the digest is a pure function of the applied batch: a fresh warehouse
    # replaying the same feed produces identical per-epoch roots
    ap2 = CdcApplier(spark, str(tmp_path / "wh2"), job_id="rcpt", n_buckets=4,
                     evolution=[])
    ap2.run_backfill(str(tmp_path / "binlog"), epoch_size=100)
    assert [r["root"] for r in ap2.epoch_receipts()] == [r["root"] for r in receipts]
    # full-table receipt + verify stay green alongside
    ap.receipt()
    assert ap.verify()["match"]

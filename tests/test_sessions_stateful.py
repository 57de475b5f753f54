"""Sessionization (batch window form) + IVF top-k tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from stratum_spark.operators.sessions import sessionize
from stratum_spark.operators.similarity import brute_force_topk, ivf_topk


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, 100, "2024-01-01 10:00:00"),
        (2, 100, "2024-01-01 10:10:00"),   # same session (10 min gap)
        (3, 100, "2024-01-01 11:30:00"),   # new session (80 min gap)
        (4, 200, "2024-01-01 10:00:00"),   # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {(r["user_id"], r["session_no"]): r for r in sessionize(df, gap_minutes=30).collect()}
    assert out[(100, 0)]["n_events"] == 2 and out[(100, 0)]["dur_us"] == 600000000
    assert out[(100, 1)]["n_events"] == 1
    assert out[(200, 0)]["n_events"] == 1
    assert len(out) == 3


def test_sessionize_on_events_table(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(ev, gap_minutes=30)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == ev.count()  # partition of all events into sessions


def test_ivf_topk_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = brute_force_topk(emb, n_queries=6, k=5)
    approx = ivf_topk(emb, n_queries=6, k=5, n_clusters=8, nprobe=4, iters=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # deterministic
    a2 = {(r["query_id"], r["neighbor_id"]) for r in
          ivf_topk(emb, n_queries=6, k=5, n_clusters=8, nprobe=4, iters=2).collect()}
    assert a == a2

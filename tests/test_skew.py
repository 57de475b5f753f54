"""Hot-key skew: the north-star scenario -- a large fraction of the change
traffic hammers a handful of doc_ids. Correctness must be unaffected and
the dedup path must not concentrate the hot key's rows on one task (the
partial-aggregate property asserted in test_plan_quality)."""

from __future__ import annotations

from pyspark.sql import functions as F

from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog
from stratum_spark.cdc.dedup import lww_dedup
from stratum_spark.cdc.oracle import replay_binlog, state_as_records


def test_ngram_df_cap_skew_proof(spark):
    """A planted stop-gram shared by EVERY doc must be cut by the
    posting-list frequency cap without any partition-buffering window
    (the hot gram's postings are exactly the partition a count() window
    over partition-by-g would buffer). Surviving rare-gram candidates
    still verify with EXACT Jaccard over the full shingle sets."""
    from stratum_spark.operators import dedup

    n = 200
    rows = [(i, f"the quick fox pair{i // 2} alpha beta g{i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(docs, n=3, tau=0.5, max_df=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no window may partition by the GRAM key (that is the hot partition
    # the cap exists to kill); gram_frame's per-doc lag windows partition
    # by doc_id, whose partitions are bounded by document length
    import re

    for spec in re.findall(r"windowspecdefinition\((\w+)", plan):
        assert not spec.startswith("g#"), plan
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
    # each adjacent pair shares 4 of its 5 shingles (J = 4/6); all other
    # pairs share only the capped hot gram and produce no candidate
    want = {(2 * k, 2 * k + 1): round(4 / 6, 4) for k in range(n // 2)}
    assert got == want


def test_extreme_hot_key_dedup_and_apply(spark, tmp_path):
    # 60% of events on ~3 hot ids (generator: hot set = n_docs//1000 >= 1)
    feed = generate_binlog(
        spark, n_docs=3000, n_events=20000, seed=4, max_tokens=16,
        hot_traffic=0.6, with_evolution=True,
    )
    hot_share = (
        feed.groupBy("doc_id").count().orderBy(F.desc("count")).limit(3)
        .agg(F.sum("count")).collect()[0][0]
    )
    assert hot_share > 0.5 * 20000, "fixture must actually be skewed"

    # dedup collapses the hot keys to single rows
    ded = lww_dedup(feed, "doc_id", "lsn")
    assert ded.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0] == 1

    # end-to-end apply equals the sequential oracle despite the skew
    write_binlog(feed, str(tmp_path / "binlog"), n_chunks=4)
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="skew", n_buckets=8,
                    n_events_hint=20000)
    ap.run_backfill(str(tmp_path / "binlog"), epoch_size=5000)
    want = state_as_records(replay_binlog(str(tmp_path / "binlog")), 3)
    got = {r["doc_id"]: r.asDict() for r in ap.state().collect()}
    assert set(got) == set(want)
    for k, w in want.items():
        assert got[k]["tokens"] == w["tokens"], k

"""LakeTable format tests: write modes, MERGE semantics, schema evolution,
time travel, idempotent epoch commits.

Mirrors the reference's write-path tests (staging MERGE upsert
crates/engine-processing/src/io/sink/postgres.rs:78-198, write-mode model
crates/model/src/execution/pipeline.rs:47-52, ALTER ADD COLUMN
crates/engine-tests/src/integration.rs:107).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stratum_spark.lake import LakeTable, TableSchema

DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def rows_as_dict(df, key="doc_id"):
    return {r[key]: r.asDict() for r in df.collect()}


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "tok"), DDL, key="doc_id", n_buckets=4)
    base = spark.createDataFrame(
        [
            ("d1", [1, 2, 3], 3, "web"),
            ("d2", [4, 5], 2, "books"),
            ("d3", [6], 1, "code"),
        ],
        DDL,
    )
    t.append(base)
    return t


def test_append_read_roundtrip(table):
    got = rows_as_dict(table.read())
    assert set(got) == {"d1", "d2", "d3"}
    assert got["d1"]["tokens"] == [1, 2, 3]
    assert table.row_count() == 3


def test_merge_upsert_update_delete_insert(spark, table):
    batch = spark.createDataFrame(
        [
            ("U", "d1", [9, 9], 2, "web"),      # update existing
            ("I", "d4", [7, 8, 9], 3, "wiki"),  # insert new
            ("D", "d2", None, None, None),       # delete existing
            ("D", "d9", None, None, None),       # delete of absent key: no-op
        ],
        f"op string, {DDL}",
    )
    stats = table.merge(batch, op_col="op")
    assert (stats.rows_inserted, stats.rows_updated, stats.rows_deleted) == (1, 1, 1)
    got = rows_as_dict(table.read())
    assert set(got) == {"d1", "d3", "d4"}
    assert got["d1"]["tokens"] == [9, 9]
    assert got["d4"]["source"] == "wiki"


def test_merge_modes(spark, table):
    batch = spark.createDataFrame(
        [("U", "d1", [1], 1, "web"), ("I", "d5", [5], 1, "web")], f"op string, {DDL}"
    )
    table.merge(batch, op_col="op", mode="update")
    got = rows_as_dict(table.read())
    assert "d5" not in got and got["d1"]["tokens"] == [1]

    table.merge(batch, op_col="op", mode="insert_new")
    got = rows_as_dict(table.read())
    assert got["d5"]["tokens"] == [5]


def test_epoch_idempotence(spark, table):
    batch = spark.createDataFrame([("U", "d1", [42], 1, "web")], f"op string, {DDL}")
    s1 = table.merge(batch, op_col="op", job_id="j", epoch=0, lsn_max=10)
    assert not s1.epoch_skipped and table.committed_epoch("j") == 0
    # replay of the same epoch is a no-op (exactly-once on re-delivery)
    batch2 = spark.createDataFrame([("U", "d1", [0], 1, "web")], f"op string, {DDL}")
    s2 = table.merge(batch2, op_col="op", job_id="j", epoch=0)
    assert s2.epoch_skipped
    assert rows_as_dict(table.read())["d1"]["tokens"] == [42]
    assert table.committed_lsn("j") == 10
    s3 = table.merge(batch2, op_col="op", job_id="j", epoch=1)
    assert not s3.epoch_skipped
    assert rows_as_dict(table.read())["d1"]["tokens"] == [0]


def test_time_travel_and_overwrite(spark, table):
    v1 = table.snapshot().version
    table.overwrite(spark.createDataFrame([("dX", [0], 1, "web")], DDL))
    assert set(rows_as_dict(table.read())) == {"dX"}
    assert set(rows_as_dict(table.read(version=v1))) == {"d1", "d2", "d3"}


def test_schema_evolution_add_rename_widen(spark, table):
    table.add_column("lang", "string")
    table.rename_column("source", "corpus")
    table.widen_type("n_tok", "bigint")
    sch = table.snapshot().schema
    assert sch.names == ["doc_id", "tokens", "n_tok", "corpus", "lang"]
    assert sch.field_by_name("n_tok").type == "bigint"

    # old files resolve through the schema history: renamed col readable,
    # added col null, widened col cast
    got = rows_as_dict(table.read())
    assert got["d1"]["corpus"] == "web" and got["d1"]["lang"] is None
    assert isinstance(got["d1"]["n_tok"], int)

    # merge with NEW schema columns works against old data files
    batch = spark.createDataFrame(
        [("U", "d2", [1, 1], 2, "books", "en"), ("I", "d7", [3], 1, "wiki", "fr")],
        "op string, doc_id string, tokens array<int>, n_tok bigint, corpus string, lang string",
    )
    stats = table.merge(batch, op_col="op")
    assert (stats.rows_inserted, stats.rows_updated) == (1, 1)
    got = rows_as_dict(table.read())
    assert got["d2"]["lang"] == "en" and got["d7"]["corpus"] == "wiki"
    assert got["d1"]["lang"] is None  # untouched rows keep nulls for added col


def test_widen_rejects_narrowing(table):
    with pytest.raises(ValueError):
        table.widen_type("n_tok", "smallint")


def test_drop_column_evolution(spark, tmp_path):
    """DROP COLUMN is a metadata-only commit: old files still carry the
    bytes, reads resolve to the narrowed schema, re-adding the same NAME
    mints a fresh field id (no value resurrection -- Iceberg drop/add
    semantics), and the merge key cannot be dropped."""
    t = LakeTable.create(
        spark, str(tmp_path / "dc"),
        "doc_id string, n_tok int, source string", key="doc_id", n_buckets=2,
    )
    df = spark.createDataFrame([("a", 1, "web"), ("b", 2, "books")],
                               "doc_id string, n_tok int, source string")
    t.append(df)
    t.drop_column("source")
    assert t.snapshot().schema.names == ["doc_id", "n_tok"]
    got = rows_as_dict(t.read())
    assert set(got) == {"a", "b"} and "source" not in got["a"]
    # re-add same name: new field id -> old values do NOT resurrect
    t.add_column("source", "string")
    got = rows_as_dict(t.read())
    assert got["a"]["source"] is None and got["b"]["source"] is None
    with pytest.raises(ValueError):
        t.drop_column("doc_id")  # merge key protected


def test_bucket_pruning_reads_only_touched_buckets(spark, table):
    """A single-key merge must not rewrite every bucket."""
    # populate all buckets so at least one is untouched by the merge
    table.append(
        spark.createDataFrame([(f"k{i}", [i], 1, "web") for i in range(32)], DDL)
    )
    covered = set()
    for e in table.snapshot().files:
        covered.update(e.buckets)
    assert covered == {0, 1, 2, 3}
    batch = spark.createDataFrame([("U", "d1", [1], 1, "web")], f"op string, {DDL}")
    before = {e.path for e in table.snapshot().files}
    stats = table.merge(batch, op_col="op")
    assert stats.buckets_touched == 1
    after = table.snapshot().files
    untouched_kept = [e for e in after if e.path in before]
    assert untouched_kept, "untouched bucket files must be carried over, not rewritten"


def test_compact(spark, table):
    for i in range(3):
        table.append(spark.createDataFrame([(f"x{i}", [i], 1, "web")], DDL))
    n_before = table.row_count()
    table.compact(target_files_per_bucket=1)
    assert table.row_count() == n_before
    by_bucket: dict[int, int] = {}
    for e in table.snapshot().files:
        for b in e.buckets:
            by_bucket[b] = by_bucket.get(b, 0) + 1
    assert all(v <= 1 for v in by_bucket.values())
    assert set(rows_as_dict(table.read())) >= {"x0", "x1", "x2"}


def test_keyless_append_only_table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "log"), "a int, b string", n_buckets=2)
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"))
    t.append(spark.createDataFrame([(3, "z")], "a int, b string"))
    assert t.read().count() == 3
    with pytest.raises(ValueError):
        t.merge(spark.createDataFrame([(1, "x")], "a int, b string"))


def test_drop_table(spark, tmp_path):
    import os

    from stratum_spark.lake import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "dt"), "k bigint, v string", key="k", n_buckets=2)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))
    assert LakeTable.exists(str(tmp_path / "dt"))
    t.drop()
    assert not LakeTable.exists(str(tmp_path / "dt"))
    assert not os.path.exists(str(tmp_path / "dt"))


def test_expire_snapshots_and_compact_maintenance(spark, tmp_path):
    import os

    from stratum_spark.lake import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "mx"), "k bigint, v string", key="k", n_buckets=2)
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"v{i}")], "k bigint, v string"))
    before = {r["k"]: r["v"] for r in t.read().collect()}
    n_meta_before = len([f for f in os.listdir(str(tmp_path / "mx" / "_meta")) if f.startswith("v")])
    t.compact(target_files_per_bucket=1)
    # keep only the post-compaction snapshot: the pre-compaction append
    # files become unreferenced and must be garbage-collected
    res = t.expire_snapshots(keep_last=1)
    assert res["snapshots_removed"] > 0 and res["files_removed"] > 0
    n_meta_after = len([f for f in os.listdir(str(tmp_path / "mx" / "_meta")) if f.startswith("v")])
    assert n_meta_after == 1 < n_meta_before
    # data survives maintenance byte-for-byte
    assert {r["k"]: r["v"] for r in t.read().collect()} == before


def test_latest_version_recovers_without_hint_after_expiry(spark, tmp_path):
    """_latest is only an unfsynced HINT: if it is lost/corrupt after
    expire_snapshots removed the early version files, the forward scan
    from v0 finds no contiguous successor -- recovery must fall back to
    scanning _meta for the max retained version instead of raising."""
    import os

    from stratum_spark.lake import LakeTable

    root = str(tmp_path / "lv")
    t = LakeTable.create(spark, root, "k bigint, v string", key="k", n_buckets=2)
    for i in range(4):
        t.append(spark.createDataFrame([(i, f"v{i}")], "k bigint, v string"))
    t.expire_snapshots(keep_last=2)  # v1..v3 gone; v4,v5 retained
    want = {r["k"]: r["v"] for r in t.read().collect()}

    hint = os.path.join(root, "_meta", "_latest")
    os.remove(hint)  # crash lost the (unfsynced) pointer
    t2 = LakeTable.load(spark, root)
    assert t2.snapshot().version == 5
    assert {r["k"]: r["v"] for r in t2.read().collect()} == want

    with open(hint, "w") as fh:  # corrupt hint pointing past the log
        fh.write("999")
    t3 = LakeTable.load(spark, root)
    assert t3.snapshot().version == 5


def test_write_epoch_files_of_empty_frame_leaves_no_files(spark, tmp_path):
    """A write whose tasks produce no rows still makes Spark emit a
    zero-row part file; the manifest drops it, so the write must delete it
    too, or a clean run leaves orphans for the sweep to find."""
    import glob
    import os

    root = str(tmp_path / "empty")
    t = LakeTable.create(spark, root, DDL, key="doc_id", n_buckets=4)
    empty = spark.createDataFrame([], DDL)
    assert t.write_epoch_files(empty, clustered=False) == []
    assert glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True) == []


def test_every_writer_commits_one_successor_snapshot(spark, tmp_path):
    """Each writer commits exactly one new version, and every snapshot
    field the op does not mean to change (schemas, key, key_field_id,
    n_buckets, committed bookmarks, properties) equals its parent's."""
    ddl = "k string, v bigint, lsn bigint"
    t = LakeTable.create(spark, str(tmp_path / "inv"), ddl, key="k", n_buckets=4,
                         properties={"stats.columns": "lsn"})

    def batch(lo, hi):
        return spark.createDataFrame([(f"k{i}", i, i) for i in range(lo, hi)], ddl)

    t.append(batch(0, 40))
    t.merge(batch(0, 10), op_col=None, job_id="m", epoch=0, lsn_max=9)
    rollback_to = t.snapshot().version

    def fields(s):
        return {
            "schema_id": s.schema_id,
            "schemas": {k: v.to_json() for k, v in s.schemas.items()},
            "key": s.key,
            "key_field_id": s.key_field_id,
            "n_buckets": s.n_buckets,
            "files": [e.to_json() for e in s.files],
            "committed": s.committed,
            "properties": s.properties,
        }

    def commit_files():
        entries = t.write_epoch_files(batch(200, 210))
        t.commit_epoch_files(entries, "j", 1, lsn_max=209, epoch_mode="batch")

    ops = [
        ("append", lambda: t.append(batch(40, 60)), {"files"}),
        ("compact_binpack", lambda: t.compact_binpack(), {"files"}),
        ("append_local", lambda: t.append_local(
            [{"k": "z1", "v": 1, "lsn": 1}, {"k": "z2", "v": 2, "lsn": 2}]), {"files"}),
        ("compact", lambda: t.compact(), {"files"}),
        ("append_epoch", lambda: t.append_epoch(
            batch(100, 110), "j", 0, lsn_max=109, epoch_mode="batch"),
         {"files", "committed"}),
        ("commit_epoch_files", commit_files, {"files", "committed"}),
        ("merge", lambda: t.merge(batch(5, 15), op_col=None, job_id="m", epoch=1,
                                  lsn_max=14), {"files", "committed"}),
        ("overwrite", lambda: t.overwrite(batch(0, 30)), {"files"}),
        ("set_properties", lambda: t.set_properties({"owner": "x"}), {"properties"}),
        ("add_column", lambda: t.add_column("note", "string"), {"schema_id", "schemas"}),
        ("rename_column", lambda: t.rename_column("note", "memo"),
         {"schema_id", "schemas"}),
        ("rebucket", lambda: t.rebucket(8), {"n_buckets", "files"}),
        ("truncate", lambda: t.truncate(t.snapshot()), {"files"}),
    ]
    for name, op, changes in ops:
        before = t.snapshot()
        op()
        after = t.snapshot()
        assert after.version == before.version + 1, name
        fb, fa = fields(before), fields(after)
        for f in fb.keys() - changes:
            assert fa[f] == fb[f], (name, f)
        for f in changes:
            assert fa[f] != fb[f], (name, f)

    # rollback commits one new version whose content is the target's
    before = t.snapshot()
    assert t.rollback(rollback_to) == before.version + 1
    assert fields(t.snapshot()) == fields(t.snapshot(rollback_to))

    # truncate is a CAS on the snapshot it was given: a commit that landed
    # after it fails the truncate instead of losing its files
    from stratum_spark.lake.table import CommitConflict

    stale = t.snapshot()
    t.append(batch(300, 310))
    with pytest.raises(CommitConflict):
        t.truncate(stale)
    assert t.row_count() > 0

"""Incremental lake -> JDBC sync-out (cdc/sync_out.py) against embedded
Apache Derby: full first pass, incremental diffs (updates + deletes),
noop convergence, bookmark-regression idempotence, and the expired-
history full resync that also converges target-side deletions. The
bookmark commits in the SAME database transaction as the applied rows
(exactly-once in the lake->database direction).
"""

from __future__ import annotations

from stratum_spark.cdc.sync_out import sync_to_jdbc
from stratum_spark.lake.table import LakeTable

URL_BASE = "jdbc:derby:memory:syncout"
PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
SCHEMA = "doc_id string, n int, tokens array<int>"


def _conn(spark, url):
    return spark._jvm.java.sql.DriverManager.getConnection(url)


def _target_rows(spark, url, table):
    df = spark.read.jdbc(url, table, properties=PROPS)
    return {r["DOC_ID"] if "DOC_ID" in df.columns else r["doc_id"]: r.asDict()
            for r in df.collect()}


def _expected(t):
    out = {}
    for r in t.read().collect():
        d = r.asDict()
        d["tokens"] = (
            "[" + ",".join(str(x) for x in d["tokens"]) + "]"
            if d["tokens"] is not None else None
        )
        out[d["doc_id"]] = d
    return out


def _assert_synced(spark, url, t, target="tgt"):
    got = _target_rows(spark, url, target)
    want = _expected(t)
    assert set(got) == set(want), (sorted(got), sorted(want))
    for k, w in want.items():
        g = {kk.lower(): vv for kk, vv in got[k].items()}
        assert g["n"] == w["n"] and g["tokens"] == w["tokens"], (k, g, w)


def test_sync_out_lifecycle(spark, tmp_path):
    url = URL_BASE + ";create=true"
    url_plain = URL_BASE
    conn = _conn(spark, url)
    st = conn.createStatement()
    for ddl in (
        "DROP TABLE tgt", "DROP TABLE tgt_sync",
    ):
        try:
            st.executeUpdate(ddl)
        except Exception:
            pass
    # exact-case quoted columns: the convention Spark's JDBC writer uses
    # for tables it creates, and what upsert_statements targets
    st.executeUpdate(
        'CREATE TABLE tgt ("doc_id" VARCHAR(64) PRIMARY KEY, '
        '"n" INT, "tokens" CLOB)'
    )
    conn.close()

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key="doc_id", n_buckets=4)
    rows1 = [(f"d{i}", i, [i, i + 1]) for i in range(12)]
    t.merge(spark.createDataFrame(rows1, SCHEMA), op_col=None)

    # first contact: full pass, bookmark lands atomically
    res = sync_to_jdbc(spark, t, url_plain, "tgt", properties=PROPS)
    assert res["mode"] == "full" and res["applied"] == 12
    _assert_synced(spark, url_plain, t)

    # incremental: updates + deletes propagate as a net diff
    up = spark.createDataFrame(
        [("d1", 100, [9], "U"), ("d2", 200, [8], "U"), ("d3", None, None, "D"),
         ("d99", 99, [7], "I")],
        SCHEMA + ", op string",
    )
    t.merge(up)
    res = sync_to_jdbc(spark, t, url_plain, "tgt", properties=PROPS)
    assert res["mode"] == "incremental" and res["applied"] == 4
    _assert_synced(spark, url_plain, t)

    # convergence: nothing new -> noop, zero rows shipped
    res = sync_to_jdbc(spark, t, url_plain, "tgt", properties=PROPS)
    assert res["mode"] == "noop" and res["applied"] == 0

    # bookmark regression (simulated replay window): re-sync is idempotent
    conn = _conn(spark, url_plain)
    conn.createStatement().executeUpdate(
        "UPDATE tgt_sync SET synced_version = synced_version - 1"
    )
    conn.close()
    res = sync_to_jdbc(spark, t, url_plain, "tgt", properties=PROPS)
    assert res["mode"] == "incremental"
    _assert_synced(spark, url_plain, t)

    # expired history + rogue target row: full resync converges deletions
    conn = _conn(spark, url_plain)
    cst = conn.createStatement()
    cst.executeUpdate("UPDATE tgt_sync SET synced_version = 1")
    cst.executeUpdate("INSERT INTO tgt VALUES ('rogue', -1, NULL)")
    conn.close()
    t.merge(spark.createDataFrame([("d5", 555, [5], "U")], SCHEMA + ", op string"))
    t.expire_snapshots(keep_last=1)
    res = sync_to_jdbc(spark, t, url_plain, "tgt", properties=PROPS)
    assert res["mode"] == "full_resync"
    _assert_synced(spark, url_plain, t)  # rogue row gone, d5 updated


def test_full_pass_converges_null_keyed_target_row(spark, tmp_path):
    """A NULL-keyed junk row in a PK-less target must be deleted by the
    full-pass convergence DELETE. The NOT IN formulation evaluates to
    UNKNOWN for a NULL key and keeps the row forever; the NOT EXISTS
    rewrite is null-safe and removes it."""
    url = "jdbc:derby:memory:syncnull;create=true"
    url_plain = "jdbc:derby:memory:syncnull"
    conn = _conn(spark, url)
    st = conn.createStatement()
    for ddl in ("DROP TABLE tgt", "DROP TABLE tgt_sync"):
        try:
            st.executeUpdate(ddl)
        except Exception:
            pass
    # no PRIMARY KEY: NULL keys are representable in this target
    st.executeUpdate(
        'CREATE TABLE tgt ("doc_id" VARCHAR(64), "n" INT, "tokens" CLOB)'
    )
    st.executeUpdate("INSERT INTO tgt VALUES (NULL, -1, NULL)")
    st.executeUpdate("INSERT INTO tgt VALUES ('stale', -2, NULL)")
    conn.close()

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key="doc_id", n_buckets=4)
    t.merge(spark.createDataFrame(
        [(f"d{i}", i, [i]) for i in range(5)], SCHEMA), op_col=None)
    res = sync_to_jdbc(spark, t, url_plain, "tgt", properties=PROPS)
    assert res["mode"] == "full" and res["applied"] == 5
    got = _target_rows(spark, url_plain, "tgt")
    assert None not in got, "NULL-keyed row must be converged away"
    assert "stale" not in got
    _assert_synced(spark, url_plain, t)


def test_sync_out_requires_key(spark, tmp_path):
    import pytest

    t = LakeTable.create(spark, str(tmp_path / "k"), SCHEMA, n_buckets=2)
    with pytest.raises(ValueError):
        sync_to_jdbc(spark, t, URL_BASE, "tgt", properties=PROPS)


def test_applier_sync_out_mor_and_cli(spark, tmp_path, capsys):
    """End-to-end: binlog -> mor backfill -> sync_out folds deltas and
    propagates exactly the applier state to Derby; a second epoch syncs
    incrementally via the CLI verb."""
    import json as _json

    from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog
    from stratum_spark.cli import main

    url = "jdbc:derby:memory:syncap;create=true"
    url_plain = "jdbc:derby:memory:syncap"
    conn = _conn(spark, url)
    st = conn.createStatement()
    for ddl in ("DROP TABLE tok", "DROP TABLE tok_sync"):
        try:
            st.executeUpdate(ddl)
        except Exception:
            pass
    st.executeUpdate(
        'CREATE TABLE tok ("doc_id" VARCHAR(64) PRIMARY KEY, "tokens" CLOB, '
        '"n_tok" INT, "source" VARCHAR(32), "lsn" BIGINT)'
    )
    conn.close()

    feed = generate_binlog(spark, n_docs=60, n_events=400, seed=5,
                           max_tokens=8, with_evolution=False)
    write_binlog(feed, str(tmp_path / "binlog"), n_chunks=2)
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="so", n_buckets=4,
                    write_mode="mor", evolution=[], n_events_hint=400)
    ap.run_backfill(str(tmp_path / "binlog"), epoch_size=200, stop_after=1)
    res = ap.sync_out(url_plain, "tok", properties=PROPS)
    assert res["mode"] == "full" and res["applied"] > 0

    want = {r["doc_id"]: r.asDict() for r in ap.state().collect()}
    got = _target_rows(spark, url_plain, "tok")
    assert set(got) == set(want)

    # epoch 2 applies, then the CLI verb syncs the net diff
    ap.run_backfill(str(tmp_path / "binlog"), epoch_size=200)
    assert main(["sync", "--url", url_plain, "--target", "tok",
                 "--jdbc-driver", PROPS["driver"], "--json",
                 "--warehouse", str(tmp_path / "wh"), "--job-id", "so",
                 "--n-buckets", "4", "--events-hint", "400"]) == 0
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["mode"] in ("incremental", "full_resync")
    want = {r["doc_id"]: r.asDict() for r in ap.state().collect()}
    got = _target_rows(spark, url_plain, "tok")
    assert set(got) == set(want)
    for k, w in want.items():
        g = {kk.lower(): vv for kk, vv in got[k].items()}
        assert g["n_tok"] == w["n_tok"] and g["source"] == w["source"], (k, g, w)


def test_sync_out_propagates_schema_adds(spark, tmp_path):
    """Outward schema evolution: a lake add_column lands on the target as
    ALTER TABLE ADD COLUMN before the upsert, and the new values ship."""
    url = "jdbc:derby:memory:syncevo;create=true"
    url_plain = "jdbc:derby:memory:syncevo"
    conn = _conn(spark, url)
    st = conn.createStatement()
    for ddl in ("DROP TABLE evt", "DROP TABLE evt_sync"):
        try:
            st.executeUpdate(ddl)
        except Exception:
            pass
    st.executeUpdate(
        'CREATE TABLE evt ("doc_id" VARCHAR(64) PRIMARY KEY, "n" INT)'
    )
    conn.close()

    t = LakeTable.create(spark, str(tmp_path / "t"), "doc_id string, n int",
                         key="doc_id", n_buckets=2)
    t.merge(spark.createDataFrame([("a", 1), ("b", 2)], "doc_id string, n int"),
            op_col=None)
    res = sync_to_jdbc(spark, t, url_plain, "evt", properties=PROPS)
    assert res["mode"] == "full" and res["added_columns"] == []

    t.add_column("lang", "string")
    t.merge(
        spark.createDataFrame([("a", 10, "en"), ("c", 3, "de")],
                              "doc_id string, n int, lang string"),
        op_col=None,
    )
    res = sync_to_jdbc(spark, t, url_plain, "evt", properties=PROPS)
    assert res["mode"] == "incremental" and res["added_columns"] == ["lang"]
    got = _target_rows(spark, url_plain, "evt")
    g = {k: {kk.lower(): vv for kk, vv in v.items()} for k, v in got.items()}
    assert g["a"]["lang"] == "en" and g["c"]["lang"] == "de"
    assert g["b"]["lang"] is None and g["b"]["n"] == 2

    # missing target is a clear error, not a mystery SQL failure
    import pytest

    with pytest.raises(ValueError, match="does not exist"):
        sync_to_jdbc(spark, t, url_plain, "nope_table", properties=PROPS,
                     job_id="other")


def test_verify_target_detects_tamper(spark, tmp_path):
    """verify_target: clean sync verifies clean; a tampered, a deleted,
    and an injected target row are each reported by key."""
    from stratum_spark.cdc.sync_out import verify_target

    url = "jdbc:derby:memory:syncvf;create=true"
    url_plain = "jdbc:derby:memory:syncvf"
    conn = _conn(spark, url)
    st = conn.createStatement()
    for ddl in ("DROP TABLE vt", "DROP TABLE vt_sync"):
        try:
            st.executeUpdate(ddl)
        except Exception:
            pass
    st.executeUpdate(
        'CREATE TABLE vt ("doc_id" VARCHAR(64) PRIMARY KEY, '
        '"n" INT, "tokens" VARCHAR(1024))'
    )
    conn.close()

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key="doc_id", n_buckets=2)
    t.merge(spark.createDataFrame(
        [(f"d{i}", i, [i]) for i in range(8)], SCHEMA), op_col=None)
    sync_to_jdbc(spark, t, url_plain, "vt", properties=PROPS)

    res = verify_target(spark, t, url_plain, "vt", properties=PROPS)
    assert res["match"] and res["ok"] == 8 and res["divergent_sample"] == []

    conn = _conn(spark, url_plain)
    st = conn.createStatement()
    st.executeUpdate("UPDATE vt SET \"n\" = 999 WHERE \"doc_id\" = 'd3'")
    st.executeUpdate("DELETE FROM vt WHERE \"doc_id\" = 'd5'")
    st.executeUpdate("INSERT INTO vt VALUES ('ghost', 0, NULL)")
    conn.close()

    res = verify_target(spark, t, url_plain, "vt", properties=PROPS)
    assert not res["match"]
    assert res["differs"] == 1 and res["missing_in_target"] == 1
    assert res["extra_in_target"] == 1 and res["ok"] == 6
    got = dict(res["divergent_sample"])
    assert got == {"d3": "differs", "d5": "missing_in_target",
                   "ghost": "extra_in_target"}


def test_full_pass_schema_qualified_target(spark, tmp_path):
    """The convergence DELETE's NOT EXISTS correlation must keep working
    when the target table is schema-qualified (sc.tgt): correlation refs
    use the bare table names, since a fully qualified column path would
    be a 3-part reference."""
    url = "jdbc:derby:memory:syncsc;create=true"
    url_plain = "jdbc:derby:memory:syncsc"
    conn = _conn(spark, url)
    st = conn.createStatement()
    for ddl in ("DROP TABLE SC.tgt", "DROP TABLE SC.tgt_sync",
                "DROP SCHEMA SC RESTRICT"):
        try:
            st.executeUpdate(ddl)
        except Exception:
            pass
    st.executeUpdate("CREATE SCHEMA SC")
    st.executeUpdate(
        'CREATE TABLE SC.tgt ("doc_id" VARCHAR(64), "n" INT, "tokens" CLOB)'
    )
    st.executeUpdate("INSERT INTO SC.tgt VALUES ('stale', -2, NULL)")
    conn.close()

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         key="doc_id", n_buckets=4)
    t.merge(spark.createDataFrame(
        [(f"d{i}", i, [i]) for i in range(4)], SCHEMA), op_col=None)
    res = sync_to_jdbc(spark, t, url_plain, "SC.tgt", properties=PROPS)
    assert res["mode"] == "full" and res["applied"] == 4
    got = _target_rows(spark, url_plain, "SC.tgt")
    assert "stale" not in got
    _assert_synced(spark, url_plain, t, target="SC.tgt")

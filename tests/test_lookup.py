"""Point lookup (CdcApplier.lookup / LakeTable.lookup / CLI lookup and
changes verbs): the consumer-side 'what is doc X right now' probe must
equal state() restricted to the key in every write mode, including with
uncompacted mor deltas carrying updates and deletes.
"""

from __future__ import annotations

import json

from stratum_spark.cdc import CdcApplier, generate_binlog, write_binlog
from stratum_spark.cli import main

N_DOCS, N_EVENTS = 80, 500


def _feed(spark, tmp_path):
    d = str(tmp_path / "binlog")
    feed = generate_binlog(spark, n_docs=N_DOCS, n_events=N_EVENTS, seed=7,
                           max_tokens=12)
    write_binlog(feed, d, n_chunks=2)
    return d


def _state_map(ap):
    return {r["doc_id"]: r.asDict() for r in ap.state().collect()}


def _check_lookups(ap):
    want = _state_map(ap)
    live = sorted(want)[:4]
    for doc in live:
        got = ap.lookup(doc).collect()
        assert len(got) == 1, f"{doc}: {len(got)} rows"
        g = got[0].asDict()
        for k, v in want[doc].items():
            assert g[k] == v, f"{doc}.{k}: {g[k]} != {v}"
    assert ap.lookup("never-a-doc").count() == 0
    # a doc whose last event was a delete must lookup to empty
    deleted = set(f"doc-{i:08d}" for i in range(N_DOCS)) - set(want)
    for doc in sorted(deleted)[:2]:
        assert ap.lookup(doc).count() == 0, f"{doc} should be deleted"


def test_lookup_mor_with_uncompacted_deltas(spark, tmp_path):
    binlog = _feed(spark, tmp_path)
    ap = CdcApplier(spark, str(tmp_path / "wh"), job_id="lk", n_buckets=8,
                    write_mode="mor", n_events_hint=N_EVENTS)
    ap.run_backfill(binlog, epoch_size=250, stop_after=1)
    ap.compact_deltas()
    ap.run_backfill(binlog, epoch_size=250)  # epoch 2 stays in deltas
    assert ap.deltas.row_count() > 0
    _check_lookups(ap)


def test_lookup_cow_and_packed(spark, tmp_path):
    binlog = _feed(spark, tmp_path)
    ap = CdcApplier(spark, str(tmp_path / "whc"), job_id="lkc", n_buckets=8,
                    write_mode="cow", n_events_hint=N_EVENTS)
    ap.run_backfill(binlog, epoch_size=250)
    _check_lookups(ap)


def test_cli_lookup_and_changes_verbs(spark, tmp_path, capsys):
    binlog = _feed(spark, tmp_path)
    wh = str(tmp_path / "wh")
    args = ["--warehouse", wh, "--events-hint", str(N_EVENTS),
            "--n-buckets", "8", "--job-id", "lk"]
    assert main(["backfill", "--binlog", binlog, "--epoch-size", "250",
                 "--compact-ratio", "0", *args]) == 0
    capsys.readouterr()
    ap = CdcApplier(spark, wh, job_id="lk", n_buckets=8, write_mode="cow",
                    n_events_hint=N_EVENTS)
    want = _state_map(ap)
    doc = sorted(want)[0]
    v_first = 2  # create=v1, first epoch merge commits v2

    assert main(["lookup", "--doc", doc, "--json", "--compact-ratio", "0",
                 *args]) == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rows) == 1 and rows[0]["doc_id"] == doc
    assert rows[0]["n_tok"] == want[doc]["n_tok"]

    assert main(["lookup", "--doc", "never-a-doc", "--compact-ratio", "0",
                 *args]) == 1
    capsys.readouterr()

    assert main(["changes", "--from-version", str(v_first), "--json",
                 "--compact-ratio", "0", *args]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["total"] > 0 and len(payload["rows"]) <= 20
    assert all("_change_type" in r for r in payload["rows"])

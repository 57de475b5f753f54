"""Command-line surface: the reference's CLI verbs mapped onto this engine.

Parity map (crates/cli/src/commands/mod.rs -- Plan/Apply/Verify/Status/
Pause/Resume/Reset/Version; sled state store replaced by the lake's own
snapshot-log metadata, so `status` reads the warehouse instead of a
separate state directory):

    plan      dry-run report for an SMQL config (row counts, validation
              estimates, duration estimate, optional sample rows)
    apply     execute an SMQL config's pipeline DAG end-to-end
    backfill  CDC batch apply: binlog -> lake warehouse (epochs resume
              from the committed bookmark -- `pause` is ctrl-C, `resume`
              is re-running the same command; stratum's pause/resume)
    stream    CDC streaming apply (Structured Streaming tail)
    status    committed epoch/lsn/schema-ver + lineage tail for a warehouse
    verify    recompute the destination digest vs the stored receipt
    compact   fold merge-on-read deltas into the base table
    binpack   coalesce small files only (size-aware compaction)
    reset     drop the warehouse state (stratum `reset`)
    version   engine + Spark versions

Sources are plain parquet paths (`--table name=path`); destinations are
lake tables auto-created under `--warehouse` from each pipeline's output
schema. The WASM `plugin` subcommands are deliberately not ported
(SURVEY.md §7.5): Arrow-vectorized pandas UDFs are this engine's plugin
surface.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from stratum_spark.session import get_spark

    return get_spark("stratum_spark_cli", cores=getattr(args, "cores", None))


def _parse_tables(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs or []:
        if "=" not in p:
            raise SystemExit(f"--table expects name=path, got: {p}")
        name, path = p.split("=", 1)
        out[name] = path
    return out


def _load_doc(path: str):
    from stratum_spark.plans.smql import parse_smql

    with open(path) as fh:
        return parse_smql(fh.read())


def _catalog(spark, args):
    from stratum_spark.plans.pipeline import Catalog

    entries: dict[str, object] = dict(_parse_tables(args.table))
    # --jdbc-table NAME=URL|TABLE|KEY|LO|HI[|DRIVER]: a live database
    # source read through the keyset-partitioned snapshot reader
    for spec in getattr(args, "jdbc_table", None) or []:
        name, rest = spec.split("=", 1)
        parts = rest.split("|")
        if len(parts) not in (5, 6):
            raise SystemExit(
                f"--jdbc-table expects NAME=URL|TABLE|KEY|LO|HI[|DRIVER], got: {spec}"
            )
        from stratum_spark.sources.jdbc import jdbc_keyset_reader

        props = {"driver": parts[5]} if len(parts) == 6 else {}
        entries[name] = jdbc_keyset_reader(
            spark, parts[0], parts[1], parts[2], int(parts[3]), int(parts[4]),
            properties=props,
        )
    return Catalog(spark, entries)


def cmd_ping(args) -> int:
    """Connectivity probe (stratum `ping`): open the JDBC connection and
    report the database product/version."""
    spark = _spark(args)
    jvm = spark._jvm
    try:
        if args.driver:
            jvm.java.lang.Class.forName(args.driver)
        conn = jvm.java.sql.DriverManager.getConnection(args.url)
        md = conn.getMetaData()
        print(
            f"ok: {md.getDatabaseProductName()} {md.getDatabaseProductVersion()} "
            f"({md.getURL()})"
        )
        conn.close()
        return 0
    except Exception as e:
        print(f"FAILED: {e}")
        return 1


def _dest_tables(doc, catalog, warehouse_dir: str, n_buckets: int = 16) -> dict:
    """Create (or load) a lake table per pipeline destination, schema
    derived from the compiled pipeline output (names + Spark types);
    n_buckets (CLI --buckets) sizes the hash-bucket layout of newly
    created tables (existing tables keep theirs)."""
    from stratum_spark.lake import LakeTable
    from stratum_spark.plans.pipeline import compile_pipeline

    wh: dict = {}
    os.makedirs(warehouse_dir, exist_ok=True)
    for spec in doc.pipelines:
        root = os.path.join(warehouse_dir, spec.destination)
        if LakeTable.exists(root):
            wh[spec.destination] = LakeTable.load(catalog.spark, root)
            continue
        df, _, _ = compile_pipeline(spec, catalog)
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        wh[spec.destination] = LakeTable.create(
            catalog.spark, root, ddl, key=spec.key, n_buckets=n_buckets
        )
    return wh


def cmd_plan(args) -> int:
    from stratum_spark.plans.report import plan_report

    doc = _load_doc(args.config)
    spark = _spark(args)
    catalog = _catalog(spark, args)
    plans = plan_report(doc.pipelines, catalog)
    payload = {}
    for name, p in plans.items():
        payload[name] = {
            "source_rows": p.source_rows,
            "output_columns": p.output_columns,
            "estimated_failures": p.estimated_failures,
            "estimated_duration_s": p.estimated_duration_s,
            "validations": p.validation_estimates,
            "diagnostics": [f"{d.level}: {d.message}" for d in p.diagnostics],
        }
    out = json.dumps(payload, indent=2, default=str)
    if args.output:
        with open(args.output, "w") as fh:
            fh.write(out + "\n")
        print(f"wrote {args.output}")
    else:
        print(out)
    return 0


def cmd_apply(args) -> int:
    from stratum_spark.plans.smql import run_document

    doc = _load_doc(args.config)
    spark = _spark(args)
    catalog = _catalog(spark, args)
    wh = _dest_tables(doc, catalog, args.warehouse, n_buckets=args.buckets)
    results = run_document(doc, catalog, wh)
    failed = 0
    for name, r in results.items():
        status = "FAILED" if r.error else ("skipped" if r.skipped else "ok")
        failed += 1 if r.error else 0
        print(
            f"{status:8s} {name}: written={r.rows_written} dlq={r.rows_failed} "
            f"warnings={r.warnings or '{}'}"
            + (f" error={r.error}" if r.error else "")
        )
    return 1 if failed else 0


def _applier(args):
    from stratum_spark.cdc import CdcApplier

    return CdcApplier(
        _spark(args),
        args.warehouse,
        job_id=args.job_id,
        n_buckets=args.n_buckets,
        n_events_hint=args.events_hint,
        write_mode="mor",
        auto_compact_ratio=args.compact_ratio,
    )


def cmd_backfill(args) -> int:
    ap = _applier(args)
    stats = ap.run_backfill(
        args.binlog, epoch_size=args.epoch_size, pipelined=args.pipelined
    )
    applied = [s for s in stats if not s.skipped]
    rows = sum(s.rows_in for s in applied)
    print(
        f"applied {len(applied)} epochs ({len(stats) - len(applied)} empty), "
        f"{rows} events; state: {ap.epoch_state()}"
    )
    return 0


def cmd_stream(args) -> int:
    from stratum_spark.streaming import run_stream_until_idle

    ap = _applier(args)
    run_stream_until_idle(
        ap, args.binlog, args.checkpoint, max_files_per_trigger=args.max_files
    )
    print(f"drained; state: {ap.epoch_state()}")
    return 0


def cmd_status(args) -> int:
    from stratum_spark.lake import LakeTable

    tok_root = os.path.join(args.warehouse, "tokens")
    if not LakeTable.exists(tok_root):
        print(f"no engine state under {args.warehouse}")
        return 1
    ap = _applier(args)
    payload = {
        "warehouse": os.path.abspath(args.warehouse),
        "job_id": args.job_id,
        **ap.epoch_state(),
        "table_rows": ap.tokens.row_count(),
        "delta_rows": ap.deltas.row_count(),
        "dlq_rows": ap.dlq.row_count(),
        "receipts": len(ap.epoch_receipts()),
        "snapshot_version": ap.tokens.snapshot().version,
    }
    if args.json:
        print(json.dumps(payload))
    else:
        for k, v in payload.items():
            print(f"{k:18s} {v}")
        lin = ap.lineage.read()
        n = lin.count()
        if n:
            print(f"\nlineage ({n} rows; last 5 epoch summaries):")
            for r in (
                lin.where("partition_id = -1")
                .orderBy("epoch", ascending=False)
                .limit(5)
                .collect()
            ):
                print(
                    f"  epoch={r['epoch']} rows_in={r['rows_in']} "
                    f"applied={r['rows_deduped']} dlq={r['rows_dlq']} "
                    f"wall_ms={r['wall_ms']}"
                )
    return 0


def cmd_verify(args) -> int:
    ap = _applier(args)
    if args.epochs:
        res = ap.verify_epoch_receipts()
        if args.json:
            print(json.dumps(res))
        else:
            for r in res:
                print(f"epoch {r['epoch']:6d}: {r['status']}")
        bad = [r for r in res if r["status"] == "mismatch"]
        return 2 if bad else 0
    if args.write_receipt:
        r = ap.receipt()
        print(f"receipt written: {r.n_buckets} buckets, {r.n_rows} rows")
        return 0
    res = ap.verify()
    ok = res.get("match", False) if isinstance(res, dict) else bool(res)
    print(json.dumps(res, default=str) if args.json else f"verify: {'OK' if ok else 'MISMATCH'} {res}")
    return 0 if ok else 2


def cmd_compact(args) -> int:
    ap = _applier(args)
    m = ap.compact_deltas()
    if m is None:
        print("nothing to compact (no committed deltas)")
        return 0
    print(
        f"compacted: inserted={m.rows_inserted} updated={m.rows_updated} "
        f"deleted={m.rows_deleted} buckets={m.buckets_touched}"
    )
    return 0


def cmd_rebucket(args) -> int:
    """Bucket-count evolution on the base (tokens) table: metadata-only
    when the new count is a multiple of the old, full rewrite otherwise."""
    ap = _applier(args)
    snap = ap.tokens.snapshot()
    old = snap.n_buckets
    v = ap.tokens.rebucket(args.to)
    mode = "metadata-only" if args.to % old == 0 and args.to != old else (
        "no-op" if args.to == old else "full rewrite")
    print(f"tokens: n_buckets {old} -> {args.to} at v{v} ({mode})")
    return 0


def cmd_binpack(args) -> int:
    """Size-aware small-file compaction on every table in the warehouse
    (Iceberg rewrite_data_files binpack analog): coalesce only files under
    --small-mb, leaving healthy files' bytes untouched."""
    ap = _applier(args)
    small = int(args.small_mb * (1 << 20))
    target = int(args.target_mb * (1 << 20))
    for name, t in (
        ("tokens", ap.tokens),
        ("lineage", ap.lineage),
        ("dlq", ap.dlq),
        ("tokens_deltas", ap.deltas),
    ):
        r = t.compact_binpack(small_file_bytes=small, target_file_bytes=target)
        print(
            f"{name}: files_in={r['files_in']} files_out={r['files_out']} "
            f"bytes_in={r['bytes_in']} groups={r['groups']}"
        )
    return 0


def _pause_marker(warehouse: str) -> str:
    return os.path.join(warehouse, "_PAUSE")


def cmd_pause(args) -> int:
    """Graceful pause (stratum `pause`, crates/cli/src/commands/pause.rs):
    drop a pause marker in the warehouse -- a running backfill checks it
    between epochs and stops after finishing the current one (every epoch
    is an atomic commit, so stopping between epochs loses nothing)."""
    os.makedirs(args.warehouse, exist_ok=True)
    with open(_pause_marker(args.warehouse), "w") as fh:
        fh.write("paused\n")
    print(
        f"pause requested: marker written to {_pause_marker(args.warehouse)}; "
        "a running backfill stops after its current epoch. "
        "`resume` clears the marker and continues from the committed bookmark."
    )
    return 0


def cmd_resume(args) -> int:
    """Resume (stratum `resume`, crates/cli/src/commands/resume.rs): clear
    the pause marker and, if --binlog is given, continue the backfill
    (identical to re-running `backfill` -- exactly-once resume is the
    engine's checkpoint contract). It resumes from the committed lsn; any
    --epoch-size is valid."""
    marker = _pause_marker(args.warehouse)
    if os.path.exists(marker):
        os.remove(marker)
        print("pause marker cleared")
    else:
        print("no pause marker present")
    if args.binlog:
        return cmd_backfill(args)
    print("no --binlog given: state left ready; re-run `backfill`/`stream` to continue")
    return 0


def cmd_reset(args) -> int:
    import shutil

    if not args.yes:
        print("refusing to drop state without --yes")
        return 1
    if os.path.isdir(args.warehouse):
        shutil.rmtree(args.warehouse)
        print(f"dropped {args.warehouse}")
    else:
        print(f"nothing at {args.warehouse}")
    return 0


def cmd_gc(args) -> int:
    """Maintenance sweep: orphaned phase-1 files (+ optional snapshot
    expiry) across every table in the warehouse."""
    ap = _applier(args)
    out = ap.remove_orphans(grace_sec=args.grace_sec)
    total_f = sum(v["files_removed"] for v in out.values())
    total_b = sum(v["bytes_removed"] for v in out.values())
    for name, v in out.items():
        print(
            f"{name}: files_removed={v['files_removed']} "
            f"dirs_removed={v['dirs_removed']} bytes_removed={v['bytes_removed']}"
        )
    if args.expire_keep is not None:
        for name, t in (
            ("tokens", ap.tokens),
            ("lineage", ap.lineage),
            ("dlq", ap.dlq),
            ("tokens_deltas", ap.deltas),
        ):
            e = t.expire_snapshots(keep_last=args.expire_keep)
            print(
                f"{name}: snapshots_removed={e['snapshots_removed']} "
                f"expired_files_removed={e['files_removed']}"
            )
    print(f"total: files_removed={total_f} bytes_removed={total_b}")
    return 0


def cmd_rollback(args) -> int:
    """Roll the job back to an earlier snapshot version of its delta
    (bookmark-carrying) table; the base rolls back to the matching version
    (CdcApplier.rollback). Exactly-once bookmarks roll back with the data,
    so a subsequent backfill replays from the rolled-back epoch and
    converges."""
    ap = _applier(args)
    try:
        new_v = ap.rollback(args.version)
    except (FileNotFoundError, ValueError) as e:
        print(f"cannot roll back to v{args.version}: {e}")
        return 1
    snap = ap.deltas.snapshot()
    bk = snap.committed.get(args.job_id, {})
    print(
        f"rolled back to v{args.version} as new v{new_v}; "
        f"bookmark epoch={bk.get('epoch', -1)} lsn_max={bk.get('lsn_max')}"
    )
    return 0


def cmd_lookup(args) -> int:
    """Point lookup of one document's current row (bucket-pruned read --
    the consumer-side 'what is doc X right now' probe)."""
    ap = _applier(args)
    rows = [r.asDict() for r in ap.lookup(args.doc).collect()]
    if args.json:
        print(json.dumps(rows, default=str))
    elif not rows:
        print(f"{args.doc}: not found")
    else:
        for k, v in rows[0].items():
            print(f"{k:12s} {v}")
    return 0 if rows else 1


def cmd_changes(args) -> int:
    """Incremental changes between two snapshot versions of the base
    table (Iceberg incremental read / Delta CDF analog) -- what a
    downstream consumer re-processes instead of rescanning."""
    ap = _applier(args)
    ch = ap.tokens.read_changes(args.from_version, args.to_version)
    n = ch.count()
    rows = [r.asDict() for r in ch.limit(args.limit).collect()]
    if args.json:
        print(json.dumps({"total": n, "rows": rows}, default=str))
    else:
        print(f"{n} changed rows (showing up to {args.limit}):")
        for r in rows:
            print(f"  {r.get('_change_type', '?'):17s} {r}")
    return 0


def cmd_sync(args) -> int:
    """Incremental lake -> JDBC sync-out (the reference's
    migrate-into-database direction): net changes since the target's own
    bookmark apply as one staged, transactional upsert."""
    ap = _applier(args)
    props = {"driver": args.jdbc_driver} if args.jdbc_driver else None
    res = ap.sync_out(args.url, args.target, properties=props,
                      dialect=args.dialect)
    if args.verify:
        res["verify"] = ap.verify_sync_target(args.url, args.target,
                                              properties=props)
    print(json.dumps(res) if args.json else
          f"sync {res['mode']}: {res['applied']} rows "
          f"(v{res['from_version']} -> v{res['to_version']})"
          + (f"; verify {'OK' if res['verify']['match'] else 'MISMATCH'}"
             if args.verify else ""))
    return 0 if not args.verify or res["verify"]["match"] else 2


def cmd_version(args) -> int:
    import pyspark

    print(f"stratum_spark 0.3.0 (pyspark {pyspark.__version__})")
    return 0


def _add_applier_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--warehouse", required=True)
    p.add_argument("--job-id", default="cdc")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--events-hint", type=int, default=None)
    p.add_argument("--compact-ratio", type=float, default=None)
    p.add_argument("--cores", type=int, default=None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="stratum_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("plan", help="dry-run report for an SMQL config")
    p.add_argument("-c", "--config", required=True)
    p.add_argument("--table", action="append", metavar="NAME=PATH")
    p.add_argument("--jdbc-table", action="append",
                   metavar="NAME=URL|TABLE|KEY|LO|HI[|DRIVER]")
    p.add_argument("-o", "--output")
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_plan)

    p = sub.add_parser("apply", help="execute an SMQL config")
    p.add_argument("-c", "--config", required=True)
    p.add_argument("--table", action="append", metavar="NAME=PATH")
    p.add_argument("--jdbc-table", action="append",
                   metavar="NAME=URL|TABLE|KEY|LO|HI[|DRIVER]")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--buckets", type=int, default=16,
                   help="hash buckets for newly created destination tables")
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_apply)

    p = sub.add_parser("ping", help="JDBC connectivity probe")
    p.add_argument("--url", required=True)
    p.add_argument("--driver", default=None)
    p.add_argument("--cores", type=int, default=None)
    p.set_defaults(fn=cmd_ping)

    p = sub.add_parser("backfill", help="CDC batch apply (resumable)")
    p.add_argument("--binlog", required=True)
    p.add_argument("--epoch-size", type=int, default=100_000,
                   help="lsns per epoch; resumes from the committed lsn, any size is valid")
    p.add_argument("--pipelined", action="store_true")
    _add_applier_args(p)
    p.set_defaults(fn=cmd_backfill)

    p = sub.add_parser("stream", help="CDC streaming apply (drain current feed)")
    p.add_argument("--binlog", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-files", type=int, default=4)
    _add_applier_args(p)
    p.set_defaults(fn=cmd_stream)

    p = sub.add_parser("pause", help="request graceful pause of a running backfill")
    p.add_argument("--warehouse", required=True)
    p.set_defaults(fn=cmd_pause)

    p = sub.add_parser("resume", help="clear pause and continue the backfill")
    p.add_argument("--binlog", default=None)
    p.add_argument("--epoch-size", type=int, default=100_000,
                   help="lsns per epoch; resumes from the committed lsn, any size is valid")
    p.add_argument("--pipelined", action="store_true")
    _add_applier_args(p)
    p.set_defaults(fn=cmd_resume)

    p = sub.add_parser("status", help="engine state for a warehouse")
    p.add_argument("--json", action="store_true")
    _add_applier_args(p)
    p.set_defaults(fn=cmd_status)

    p = sub.add_parser("verify", help="verify destination vs stored receipt")
    p.add_argument("--write-receipt", action="store_true",
                   help="compute and store a fresh receipt instead")
    p.add_argument("--epochs", action="store_true",
                   help="batch-boundary mode: verify per-epoch receipts "
                        "against each epoch's own delta files")
    p.add_argument("--json", action="store_true")
    _add_applier_args(p)
    p.set_defaults(fn=cmd_verify)

    p = sub.add_parser("compact", help="fold merge-on-read deltas into the base")
    _add_applier_args(p)
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("rebucket", help="bucket-count evolution on the base table")
    _add_applier_args(p)
    p.add_argument("--to", type=int, required=True, help="new bucket count")
    p.set_defaults(fn=cmd_rebucket)

    p = sub.add_parser("binpack", help="coalesce small files only (size-aware compaction)")
    _add_applier_args(p)
    p.add_argument("--small-mb", type=float, default=32.0,
                   help="files under this size are coalesced")
    p.add_argument("--target-mb", type=float, default=128.0,
                   help="target output file size")
    p.set_defaults(fn=cmd_binpack)

    p = sub.add_parser("gc", help="sweep orphaned data files (+ optional snapshot expiry)")
    _add_applier_args(p)
    p.add_argument("--grace-sec", type=float, default=3600.0,
                   help="only files older than this are swept (protects in-flight writes)")
    p.add_argument("--expire-keep", type=int, default=None,
                   help="also expire snapshots, keeping the newest N per table")
    p.set_defaults(fn=cmd_gc)

    p = sub.add_parser("rollback", help="roll the job back to a snapshot version of its delta table")
    _add_applier_args(p)
    p.add_argument("--version", type=int, required=True)
    p.set_defaults(fn=cmd_rollback)

    p = sub.add_parser("lookup", help="point lookup of one document's current row")
    _add_applier_args(p)
    p.add_argument("--doc", required=True)
    p.add_argument("--json", action="store_true")
    p.set_defaults(fn=cmd_lookup)

    p = sub.add_parser("changes", help="incremental changes between snapshot versions")
    _add_applier_args(p)
    p.add_argument("--from-version", dest="from_version", type=int, required=True)
    p.add_argument("--to-version", dest="to_version", type=int, default=None)
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("--json", action="store_true")
    p.set_defaults(fn=cmd_changes)

    p = sub.add_parser("sync", help="incremental sync-out to a JDBC database")
    _add_applier_args(p)
    p.add_argument("--url", required=True)
    p.add_argument("--target", required=True)
    p.add_argument("--dialect", choices=("ansi", "postgres", "mysql"), default=None)
    p.add_argument("--jdbc-driver", default=None)
    p.add_argument("--verify", action="store_true",
                   help="after syncing, verify the target per key (exit 2 on mismatch)")
    p.add_argument("--json", action="store_true")
    p.set_defaults(fn=cmd_sync)

    p = sub.add_parser("reset", help="drop a warehouse's state")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--yes", action="store_true")
    p.set_defaults(fn=cmd_reset)

    p = sub.add_parser("version")
    p.set_defaults(fn=cmd_version)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

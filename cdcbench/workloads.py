"""The two workloads.  Each is a closed loop driven from one process:
Spark at local[<cores>], the benchmark single-threaded, no timed phase
overlapping another.  Each workload

  1. generates its change feed from the seed (outside set-up time),
  2. sets up: a throwaway warehouse is created and preloaded, then every
     timed call runs on it untimed (JVM/JIT warm-up); then the measured
     warehouse is created and preloaded, twice more, and the last one is
     kept -- set-up time counts the median creation+preload,
  3. runs its timed phase,
  4. serves point lookups (during the timed phase in serve_mixed) and
     verifies the Merkle receipt,
  5. checks every output against the engine's reference replay
     (cdc/oracle.replay_binlog), outside the timings and the spans.

Work is a function of --seconds only (never of elapsed time), so two
versions of the engine do identical work and a faster engine finishes
sooner.  At --seconds 12 a timed phase lasts 15-25 s on a 4-core host.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from harness import Run, median, quantile
import expected as xp

MAX_TOKENS = 64  # payload tokens per document: uniform 1..64
N_BUCKETS = 64  # the CLI's default bucket count
WARM_LOOKUPS = 4
WARM_VERIFIES = 4  # the first verify() calls in a JVM get faster call by call
SETUP_REPS = 3  # warehouse creation + preload samples (the first is the warm-up's)
VERIFY_REPS = 5


def make_applier(run: Run, name: str, **kw):
    from stratum_spark.cdc.applier import CdcApplier

    return CdcApplier(run.spark, run.path("wh", name), n_buckets=N_BUCKETS, **kw)


def generate(run: Run, n_docs: int, n_events: int, n_chunks: int,
             evolution: bool) -> str:
    """Write the seed's binlog as lsn-range chunk files; returns the dir."""
    from stratum_spark.cdc.binlog import generate_binlog, write_binlog

    out = run.path("feed", "all")
    with run.span("binlog.generate"):
        t = time.perf_counter()
        df = generate_binlog(run.spark, n_docs=n_docs, n_events=n_events,
                             seed=run.seed, max_tokens=MAX_TOKENS,
                             with_evolution=evolution)
        write_binlog(df, out, n_chunks=n_chunks)
        run.layer["binlog.gen_s"] = time.perf_counter() - t
    run.log(f"generated {n_events} events over {n_docs} documents")
    return out


def cut_feed(src: str, parts: list[tuple[str, int, int]]) -> list[str]:
    """Copy the feed under `src` as one file per (dir, lo, hi] lsn range,
    rows in lsn order, mtimes increasing part by part; returns file names.
    `src` stays, for the oracle's replay."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(src)
    t = t.take(pc.sort_indices(t["lsn"]))
    base = time.time() - len(parts)
    names = []
    for i, (d, lo, hi) in enumerate(parts):
        os.makedirs(d, exist_ok=True)
        name = f"chunk-{i:05d}.parquet"
        path = os.path.join(d, name)
        rows = pc.and_(pc.greater(t["lsn"], lo), pc.less_equal(t["lsn"], hi))
        pq.write_table(t.filter(rows), path, coerce_timestamps="us")
        os.utime(path, (base + i, base + i))
        names.append(name)
    return names


def sample_keys(rng: random.Random, n_docs: int, n: int) -> list[str]:
    """Half hot keys (the generator's hot set, which absorbs 10% of the
    traffic), half uniform over the id space."""
    n_hot = max(1, n_docs // 1000)
    return [f"doc-{rng.randrange(n_hot if j % 2 == 0 else n_docs):08d}" for j in range(n)]


class Instrumented:
    """Always-on timing of one applier's apply_epoch (wrapped on the
    instance, so foreachBatch micro-batches are timed too), compact_deltas
    (whose base MERGE stats are kept) and flush_lineage.  In traced runs
    apply_epoch also opens a span and a Spark job group per epoch."""

    def __init__(self, run: Run, ap) -> None:
        self.run, self.ap = run, ap
        self.epoch_s: list[float] = []
        self.stats: list = []
        self.compact_s: list[float] = []
        self.compactions: list = []  # MergeStats of each compaction's base MERGE
        self.flush_s: list[float] = []
        apply_epoch, compact, flush = ap.apply_epoch, ap.compact_deltas, ap.flush_lineage

        def timed_apply(events, epoch):
            with run.unit(f"epoch-{epoch}", "epoch"), run.span("applier.apply_epoch"):
                t = time.perf_counter()
                st = apply_epoch(events, epoch)
                self.epoch_s.append(time.perf_counter() - t)
            self.stats.append(st)
            return st

        def timed_compact():
            t = time.perf_counter()
            st = compact()
            self.compact_s.append(time.perf_counter() - t)
            if st is not None:
                self.compactions.append(st)
            return st

        def timed_flush():
            t = time.perf_counter()
            flush()
            self.flush_s.append(time.perf_counter() - t)

        ap.apply_epoch = timed_apply
        ap.compact_deltas = timed_compact
        ap.flush_lineage = timed_flush

    def applied(self) -> list:
        return [s for s in self.stats if not s.skipped]


def install_trace(run: Run) -> None:
    """Wrap the public calls of every measured layer in spans (traced runs
    only).  Class and module attributes are patched from here, never in the
    engine's own files."""
    import stratum_spark.cdc.applier as applier_mod
    import stratum_spark.streaming.driver as driver_mod
    import stratum_spark.verify as verify_pkg
    import stratum_spark.verify.hashing as hashing_mod
    from stratum_spark.cdc.applier import CdcApplier
    from stratum_spark.lake.table import LakeTable

    tr = run.tracer
    for m in ("run_backfill", "compact_deltas", "maybe_compact", "lookup",
              "flush_lineage", "receipt", "verify", "state"):
        tr.patch(CdcApplier, m, f"applier.{m}")
    for m in ("merge", "lookup", "scan_files", "read", "read_changes", "changed_buckets",
              "snapshot", "write_epoch_files", "commit_epoch_files", "append_epoch",
              "overwrite", "append_local"):
        tr.patch(LakeTable, m, f"lake.{m}")
    tr.patch(applier_mod, "lww_dedup", "dedup.lww_dedup")
    tr.patch(driver_mod, "start_stream", "streaming.start_stream")
    tr.patch(driver_mod, "run_stream_until_idle", "streaming.run_stream_until_idle",
             blocking=True)
    tr.patch(verify_pkg, "merkle_receipt", "verify.merkle_receipt")
    tr.patch(verify_pkg, "verify_receipt", "verify.verify_receipt")
    tr.patch(hashing_mod, "merkle_receipt", "verify.merkle_receipt")


# ------------------------------------------------------------------ serving
def lookup(run: Run, ap, key: str, i: int, lat_ms: list, files: list, cpu_ms: list):
    """One timed point lookup (plan + collect); returns the row or None."""
    with run.unit(f"lookup-{i}", "lookup"), run.span("bench.lookup"):
        c0 = run.cpu_s() if run.trace else 0.0
        t = time.perf_counter()
        rows = ap.lookup(key).collect()
        lat_ms.append((time.perf_counter() - t) * 1000.0)
        if run.trace:
            cpu_ms.append((run.cpu_s() - c0) * 1000.0)
    if run.trace:
        with run.untraced():
            n = len(ap.tokens.scan_files([("doc_id", "=", key)]))
            if ap.deltas is not None:
                n += len(ap.deltas.snapshot().files)
        files.append(n)
    return rows[0].asDict() if rows else None


def warm_calls(ap, keys: list[str]) -> None:
    """Untimed warm-up of the serving calls on a throwaway warehouse."""
    for k in keys:
        ap.lookup(k).collect()
    ap.receipt()
    for _ in range(WARM_VERIFIES):
        ap.verify()


def take_receipt(run: Run, ap) -> None:
    """The receipt the timed verify() calls compare against
    (verify.receipt_s)."""
    with run.unit("receipt"):
        t = time.perf_counter()
        ap.receipt()
        run.layer["verify.receipt_s"] = time.perf_counter() - t
    if run.corrupt:
        with run.untraced():
            corrupt_base(ap)


def timed_verify(run: Run, ap, i: int, walls: list) -> None:
    """One timed verify(), which must report a match."""
    with run.unit(f"verify-{i}"):
        t = time.perf_counter()
        res = ap.verify()
        walls.append(time.perf_counter() - t)
    run.check(bool(res["match"]), f"verify() mismatch: {res}")


def corrupt_base(ap) -> None:
    """Fault injection for the harness's own test: one base-table row whose
    document has no pending delta gets n_tok + 1.  The altered file is
    written under a new name and swapped into the latest snapshot, as a
    bad rewrite would leave it."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    pending = set()
    if ap.deltas is not None:
        for e in ap.deltas.snapshot().files:
            pending |= set(pq.read_table(os.path.join(ap.deltas.root, e.path),
                                         columns=["doc_id"])["doc_id"].to_pylist())
    snap = ap.tokens.snapshot()
    for e in snap.files:
        t = pq.read_table(os.path.join(ap.tokens.root, e.path))
        hit = [i for i, d in enumerate(t["doc_id"].to_pylist()) if d not in pending]
        if not hit:
            continue
        col = t.schema.get_field_index("n_tok")
        vals = t["n_tok"].to_pylist()
        vals[hit[0]] += 1
        t = t.set_column(col, t.schema.field(col), pa.array(vals, t.schema.field(col).type))
        bad = e.path[: -len(".parquet")] + "-corrupt.parquet"
        pq.write_table(t, os.path.join(ap.tokens.root, bad))
        meta = ap.tokens._version_path(snap.version)
        with open(meta) as fh:
            doc = json.load(fh)
        for f in doc["files"]:
            if f["path"] == e.path:
                f["path"] = bad
                f["size_bytes"] = os.path.getsize(os.path.join(ap.tokens.root, bad))
        with open(meta, "w") as fh:
            json.dump(doc, fh)
        return
    raise RuntimeError("no base row to corrupt")


def serve_probe(run: Run, ap, keys: list[str], oracle: xp.Oracle) -> None:
    """Point lookups after an ingest phase, each checked against the
    oracle's row at the end of the feed, with a timed verify() after every
    second lookup, so both samples span the same ~10 s: the host's speed
    drifts in phases of seconds, and one short window would catch one
    phase."""
    take_receipt(run, ap)
    lat, files, cpu, walls = [], [], [], []
    for i, k in enumerate(keys):
        row = lookup(run, ap, k, i, lat, files, cpu)
        run.check(xp.row_matches(row, oracle.row(k)), f"lookup {k}")
        if i % 2:
            timed_verify(run, ap, len(walls), walls)
    report_lookups(run, lat, files, cpu)
    run.e2e["verify_s"] = median(walls)
    run.log(f"lookups (ms) {[round(x) for x in lat]}, verify {[round(x, 2) for x in walls]}")


def report_lookups(run: Run, lat: list, files: list, cpu: list) -> None:
    run.e2e["lookup_p50_ms"] = median(lat)
    run.layer["lake.lookup_p95_ms"] = quantile(lat, 0.95)
    run.layer["lake.lookup_files_p50"] = median(files)
    run.layer["lake.lookup_cpu_ms"] = median(cpu)


# ---------------------------------------------------------------- reporting
def phase_stats(run: Run, ins: Instrumented, wall: float, ingest_wall: float,
                cpu: float, bytes_written: int, snapshots: int) -> None:
    applied = ins.applied()
    events = sum(s.rows_in for s in applied)
    kept = sum(s.rows_deduped for s in applied)
    run.check(len(applied) == len(ins.stats) and events > 0,
              f"{len(ins.stats) - len(applied)} epochs skipped")
    run.e2e["events_per_s"] = events / ingest_wall
    run.e2e["commit_p50_s"] = median(ins.epoch_s)
    L = run.layer
    L["applier.epoch_max_s"] = max(ins.epoch_s)
    L["applier.cpu_us_per_event"] = cpu / events * 1e6
    L["applier.cpu_util"] = cpu / (wall * run.cores)
    L["applier.flush_wait_s"] = sum(ins.flush_s)
    L["applier.rows_in"] = events
    L["applier.rows_dlq"] = sum(s.rows_dlq for s in applied)
    L["applier.rows_applied"] = kept
    L["applier.keep_ratio"] = kept / events
    L["applier.compact_s"] = sum(ins.compact_s)
    L["applier.compactions"] = ins.ap.compactions_run
    # merge-on-read epochs only append delta files; the base buckets are
    # rewritten by the compactions' MERGEs
    L["lake.buckets_touched_p50"] = median(m.buckets_touched for m in ins.compactions)
    L["lake.bytes_written_per_event"] = bytes_written / events
    L["lake.snapshots"] = snapshots
    files = len(ins.ap.tokens.snapshot().files)
    if ins.ap.deltas is not None:
        files += len(ins.ap.deltas.snapshot().files)
    L["lake.files_live"] = files
    if run.trace:
        L["spark.jobs_per_epoch"] = run.jobs.median("epoch", 0)
        L["spark.tasks_per_epoch"] = run.jobs.median("epoch", 1)


def data_bytes_since(root: str, since: float) -> int:
    """Bytes of data files written under `root` since `since` (epoch s)."""
    total = 0
    for d, _subdirs, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                if st.st_mtime >= since:
                    total += st.st_size
    return total


def versions(ap) -> int:
    v = ap.tokens.snapshot().version
    return v + (ap.deltas.snapshot().version if ap.deltas is not None else 0)


class Phase:
    """Wall, CPU, bytes and snapshot accounting around a timed phase."""

    def __init__(self, run: Run, ap) -> None:
        self.run, self.ap = run, ap

    def __enter__(self):
        with self.run.untraced():
            self.v0 = versions(self.ap)
        self.t_epoch = time.time()
        self.cpu0 = self.run.cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = self.run.cpu_s() - self.cpu0
        return False

    def finish(self, ins: Instrumented, ingest_wall: float | None = None) -> None:
        """Report the phase; events_per_s divides by `ingest_wall` when the
        phase also serves reads, else by the phase's wall time."""
        written = data_bytes_since(self.ap.warehouse, self.t_epoch)
        with self.run.untraced():
            phase_stats(self.run, ins, self.wall, ingest_wall or self.wall, self.cpu,
                        written, versions(self.ap) - self.v0)


def check_state(run: Run, ap, oracle: xp.Oracle, lsn: int | None = None) -> None:
    """Whole-state gates as of `lsn` (the end of the feed when None), by
    Merkle root against replay_binlog's state: the engine's state, and the
    receipt the engine persisted."""
    import json

    from stratum_spark.verify import merkle_receipt

    with run.untraced():
        recs = oracle.records(lsn)
        got = ap.state()
        cols = got.columns
        want_cols = set(next(iter(recs.values())))
        if not run.check(set(cols) == want_cols,
                         f"table columns {sorted(cols)} != oracle's {sorted(want_cols)}"):
            return
        want = run.spark.createDataFrame([tuple(r[c] for c in cols) for r in recs.values()],
                                         got.schema)
        root = merkle_receipt(want, "doc_id").root
        run.check(merkle_receipt(got, "doc_id").root == root,
                  "final state differs from replay_binlog's")
        with open(os.path.join(ap.warehouse, "tokens", "_meta", "receipt.json")) as fh:
            run.check(json.load(fh)["root"] == root,
                      "persisted receipt differs from replay_binlog's state")


# ----------------------------------------------------------------- workloads
def backfill(run: Run) -> None:
    """Bulk catch-up into merge-on-read with the CLI's write defaults (mor,
    64 buckets) and the scripted mid-stream DDL: run_backfill over the whole
    feed in lsn-range epochs, then one compact_deltas.  No reads and no
    streaming during the timed phase; lookups and verify follow it."""
    n_docs, epoch = int(20_000 * run.scale), int(30_000 * run.scale)
    n_epochs = max(3, round(run.seconds / 1.5))
    n_events = n_epochs * epoch
    feed_dir = generate(run, n_docs, n_events, n_epochs, evolution=True)
    keys = sample_keys(random.Random(run.seed), n_docs, 10)
    warm = sample_keys(random.Random(run.seed + 1), n_docs, WARM_LOOKUPS)

    t = time.perf_counter()
    samples = []
    kw = dict(job_id="bf", write_mode="mor", n_events_hint=n_events)
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        ap = make_applier(run, f"bf{rep}", **kw)
        samples.append(time.perf_counter() - t0)
        if rep == 0:  # warm every timed call on the throwaway warehouse
            ap.run_backfill(feed_dir, epoch_size=epoch, stop_after=1)
            ap.compact_deltas()
            warm_calls(ap, warm)
            ap.flush_lineage()
    setup_other = time.perf_counter() - t - sum(samples)
    run.log(f"set up: preload samples {[round(x, 2) for x in samples]}, warm-up {setup_other:.2f}s")
    ins = Instrumented(run, ap)

    with Phase(run, ap) as ph:
        with run.unit("backfill"):
            ap.run_backfill(feed_dir, epoch_size=epoch)
            ap.compact_deltas()
    ap.flush_lineage()
    ph.finish(ins)
    run.log(f"timed phase {ph.wall:.2f}s, epochs {[round(x, 2) for x in ins.epoch_s]}")
    run.check(len(ins.stats) == n_epochs, f"{len(ins.stats)} of {n_epochs} epochs ran")

    oracle = xp.Oracle(feed_dir)
    t = time.perf_counter()
    oracle.state()
    run.log(f"replay_binlog {time.perf_counter() - t:.2f}s")
    serve_probe(run, ap, keys, oracle)
    check_state(run, ap, oracle)
    run.setup_parts = (samples, setup_other)


def serve_mixed(run: Run) -> None:
    """Reads beside writes on a preloaded merge-on-read table with the ratio
    compaction policy on.  Each round, one new binlog chunk lands and a
    Structured Streaming drain (availableNow) applies it as one micro-batch
    epoch and then applies the compaction policy; after a compaction the
    base's changes since the previous base are read; then point lookups run
    over hot keys (pending deltas) and cold keys.  The run ends with receipt
    + verify."""
    from stratum_spark.streaming import driver

    n_docs, chunk = int(10_000 * run.scale), int(2_000 * run.scale)
    n_pre, n_rounds, per_round = 10, max(3, round(run.seconds / 2.4)), 3
    n_events = (n_pre + n_rounds) * chunk
    feed_dir = generate(run, n_docs, n_events, 4, evolution=False)
    # re-cut the feed at exact lsn boundaries, the way a WAL shipper lands
    # segments: one preload file, then one file per round (increasing
    # mtimes, which order the stream's batches)
    pre_dir, rounds_dir = run.path("feed", "pre"), run.path("feed", "rounds")
    hi = [(n_pre + r + 1) * chunk for r in range(n_rounds)]
    pre_lsn = n_pre * chunk
    rounds = cut_feed(feed_dir, [(pre_dir, 0, pre_lsn)] + [
        (rounds_dir, lo, up) for lo, up in zip([pre_lsn] + hi[:-1], hi)])[1:]
    oracle = xp.Oracle(feed_dir)
    rng = random.Random(run.seed)
    keys = [sample_keys(rng, n_docs, per_round) for _ in range(n_rounds)]
    warm = sample_keys(random.Random(run.seed + 1), n_docs, WARM_LOOKUPS)

    def land(name: str, stream_dir: str) -> None:  # mtime kept: batch order
        os.makedirs(stream_dir, exist_ok=True)
        shutil.copy2(os.path.join(rounds_dir, name), os.path.join(stream_dir, name))

    t = time.perf_counter()
    samples = []
    kw = dict(job_id="serve", write_mode="mor", auto_compact_ratio=0.3)
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        # the base is bulk-loaded with one MERGE, the operation compaction
        # folds deltas with
        pre = make_applier(run, f"sv{rep}", job_id="preload", write_mode="cow")
        pre.run_backfill(pre_dir, epoch_size=2 * n_events)
        pre.flush_lineage()
        samples.append(time.perf_counter() - t0)
        if rep == 0:  # every timed call, untimed; two drains, as the first
            # micro-batches of a JVM are the slowest
            ap = make_applier(run, "sv0", **kw)
            v0 = ap.tokens.snapshot().version
            for name in rounds[:2]:
                land(name, run.path("feed", "warm"))
                driver.run_stream_until_idle(ap, run.path("feed", "warm"), run.path("ckpt-warm"))
            warm_calls(ap, warm)
            ap.compact_deltas()
            ap.tokens.read_changes(v0).count()
            ap.flush_lineage()
    setup_other = time.perf_counter() - t - sum(samples)
    run.log(f"set up: preload samples {[round(x, 2) for x in samples]}, warm-up {setup_other:.2f}s")
    ap = make_applier(run, f"sv{SETUP_REPS - 1}", **kw)
    ins = Instrumented(run, ap)

    lat, files, cpu, drain_s, ch_s, ch_rows, ch_b = [], [], [], [], [], 0, []
    base_v, base_lsn = ap.tokens.snapshot().version, pre_lsn
    stream_dir = run.path("feed", "stream")
    with Phase(run, ap) as ph:
        for r, name in enumerate(rounds):
            land(name, stream_dir)
            before = ap.compactions_run
            with run.unit(f"round-{r}"):
                t0 = time.perf_counter()
                driver.run_stream_until_idle(ap, stream_dir, run.path("ckpt"))
                drain_s.append(time.perf_counter() - t0)
            if ap.compactions_run > before:
                with run.unit(f"changes-{r}"), run.span("bench.read_changes"):
                    t0 = time.perf_counter()
                    n = ap.tokens.read_changes(base_v).count()
                    ch_s.append(time.perf_counter() - t0)
                with run.untraced():
                    ch_b.append(len(ap.tokens.changed_buckets(base_v)))
                    base_v = ap.tokens.snapshot().version
                ch_rows += n
                want = oracle.changes(base_lsn, hi[r])
                run.check(n == want, f"read_changes rows {n} != {want}")
                base_lsn = hi[r]
            for k in keys[r]:
                row = lookup(run, ap, k, len(lat), lat, files, cpu)
                run.check(xp.row_matches(row, oracle.row(k, hi[r])),
                          f"lookup {k} in round {r}")
        ap.flush_lineage()
    # the ingest part of the rounds: the drains, policy compactions included
    ph.finish(ins, ingest_wall=sum(drain_s))
    run.log(f"timed phase {ph.wall:.2f}s, drains {[round(x, 2) for x in drain_s]}, "
            f"epochs {[round(x, 2) for x in ins.epoch_s]}, lookups (ms) {[round(x) for x in lat]}")
    run.check(len(ins.stats) == n_rounds, f"{len(ins.stats)} of {n_rounds} micro-batches ran")
    run.check(ap.compactions_run >= 1, "the ratio policy never compacted")
    report_lookups(run, lat, files, cpu)
    L = run.layer
    L["lake.changes_s"] = median(ch_s)
    L["lake.changes_rows"] = ch_rows
    L["lake.changed_buckets"] = median(ch_b)
    L["stream.batches"] = len(ins.applied())
    L["stream.batch_p75_s"] = quantile(ins.epoch_s, 0.75)
    L["stream.apply_share"] = sum(ins.epoch_s) / sum(drain_s)
    L["stream.overhead_s"] = sum(drain_s) - sum(ins.epoch_s)
    take_receipt(run, ap)
    walls = []
    for i in range(VERIFY_REPS):
        timed_verify(run, ap, i, walls)
    run.e2e["verify_s"] = median(walls)
    run.log(f"receipt + verify {[round(x, 2) for x in walls]}")
    check_state(run, ap, oracle, hi[-1])
    run.setup_parts = (samples, setup_other)


WORKLOADS = {"backfill": backfill, "serve_mixed": serve_mixed}

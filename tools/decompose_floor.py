"""Decompose the 4-core engine-over-bare epoch cost (round-6 bar item).

The graded criterion compares the engine's steady throughput to a bare
feed-slice->parquet write at the same level. The engine's extra work per
mor epoch is (a) the validation/DLQ split, (b) the LWW shuffle aggregate,
(c) commit/bookkeeping. (a) is the prime suspect for the 4-core ratio
dropping below 0.9 on a memory-bandwidth-bound host.

This tool measures steady ev/s at one core count for three configs,
interleaved round-robin across fresh JVMs (the box's window variance
swamps back-to-back comparisons):

  engine      validate=True   (the graded config)
  novalidate  validate=False  (drops the validity split + DLQ append)
  bare        feed slice -> parquet, no engine   (the exhibit baseline)

Usage: python tools/decompose_floor.py [cores=4] [n_events=2000000] [trials=3]
Emits one JSON line with per-config trial lists + per-epoch walls.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _steal_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    vals = [int(x) for x in f[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def _worker(config: str, cores: int, binlog_dir: str, n_events: int) -> None:
    from pyspark.sql import functions as F

    from stratum_spark.session import get_spark

    n_epochs = 4
    epoch_size = max(10_000, n_events // n_epochs)
    spark = get_spark(f"decomp_{config}_{cores}", cores=cores)
    base = tempfile.mkdtemp(prefix=f"decomp_{config}_", dir="/dev/shm")
    try:
        if config == "bare":
            feed = spark.read.parquet(binlog_dir)
            walls = []
            for ep in range(n_epochs):
                lo, hi = ep * epoch_size + 1, (ep + 1) * epoch_size
                sl = feed.where((F.col("lsn") >= lo) & (F.col("lsn") <= hi))
                t0 = time.time()
                sl.write.mode("overwrite").parquet(os.path.join(base, f"ep{ep}"))
                walls.append(time.time() - t0)
            steady = sum(walls[1:])
            print(json.dumps({
                "config": config,
                "steady_eps": round(epoch_size * (n_epochs - 1) / steady, 1),
                "epoch_walls": [round(w, 3) for w in walls],
            }))
            return

        from stratum_spark.cdc import CdcApplier

        ap = CdcApplier(
            spark, os.path.join(base, "wh"), job_id="decomp", n_buckets=64,
            evolution=[], validate=config != "novalidate", write_mode="mor",
        )
        t0 = time.time()
        ap.run_backfill(binlog_dir, epoch_size=epoch_size, stop_after=1)
        t1 = time.time()
        stats = ap.run_backfill(binlog_dir, epoch_size=epoch_size, pipelined=True)
        t2 = time.time()
        steady_rows = sum(s.rows_in for s in stats if not s.skipped)
        print(json.dumps({
            "config": config,
            "steady_eps": round(steady_rows / (t2 - t1), 1),
            "warmup_sec": round(t1 - t0, 3),
            "steady_sec": round(t2 - t1, 3),
            "epoch_walls": [s.wall_ms / 1000.0 for s in stats],
        }))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], int(sys.argv[3]), sys.argv[4], int(sys.argv[5]))
        return 0
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    configs = (
        sys.argv[4].split(",") if len(sys.argv) > 4
        else ["engine", "novalidate", "bare"]
    )

    base = tempfile.mkdtemp(prefix="decomp_feed_", dir="/dev/shm")
    binlog = os.path.join(base, "binlog")
    try:
        from stratum_spark.cdc import generate_binlog, write_binlog
        from stratum_spark.session import get_spark

        spark = get_spark("decomp_gen", cores=16)
        feed = generate_binlog(
            spark, n_docs=max(1000, n_events // 10), n_events=n_events,
            seed=42, max_tokens=96, with_evolution=False,
        )
        write_binlog(feed, binlog, n_chunks=16)
        spark.stop()

        out: dict[str, list] = {c: [] for c in configs}
        for t in range(trials):
            for c in configs:
                s0, j0 = _steal_jiffies()
                r = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--worker",
                     c, str(cores), binlog, str(n_events)],
                    capture_output=True, text=True, timeout=1200, cwd=REPO,
                )
                s1, j1 = _steal_jiffies()
                rec = None
                for line in reversed(r.stdout.strip().splitlines()):
                    if line.startswith("{"):
                        rec = json.loads(line)
                        break
                if rec is None:
                    rec = {"config": c, "error": r.stderr[-800:]}
                rec["steal_pct"] = round(100.0 * (s1 - s0) / max(j1 - j0, 1), 2)
                out[c].append(rec)
                print(f"# trial {t} {c}: {rec.get('steady_eps')} ev/s "
                      f"(steal {rec['steal_pct']}%)", file=sys.stderr, flush=True)
        summary = {
            c: {
                "best_eps": max((r.get("steady_eps") or 0) for r in rs),
                "trials": [r.get("steady_eps") for r in rs],
                "steal": [r.get("steal_pct") for r in rs],
            }
            for c, rs in out.items()
        }
        print(json.dumps({"cores": cores, "n_events": n_events,
                          "summary": summary, "detail": out}))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""CDC-ingest benchmark entry point.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Workloads: backfill,
serve_mixed (see BENCHMARK.json, workloads.py and METRICS.md).  The last
line of standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the per-layer
metrics (spans, counters, drift probes) with --trace 1.  A line starting
with `# diag` before it carries the drift probes in both modes.  The exit
code is 0 only when every correctness gate passed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("backfill", "serve_mixed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # toy-size runs for the harness's own smoke test
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "stratum_spark", "cdc", "applier.py")):
        print(f"cdcbench: no engine source (stratum_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # the engine reads STRATUM_* knobs from the environment; clear the
    # caller's so every run sees the same settings: the engine's defaults
    # except the Spark local dir and the driver heap (Run.start_spark)
    for k in [k for k in os.environ if k.startswith("STRATUM_")]:
        del os.environ[k]

    from harness import Run, median
    import workloads

    run = Run(ROOT, args.seed, args.seconds, bool(args.trace), args.scale)
    run.corrupt = args.corrupt
    run.prepare_dirs()
    try:
        session_s = run.start_spark()
        run.layer["session.start_s"] = session_s
        if run.trace:
            workloads.install_trace(run)
        workloads.WORKLOADS[args.workload](run)
        samples, other = run.setup_parts
        run.e2e["setup_s"] = session_s + median(samples) + other
        run.e2e["peak_rss_mb"] = run.rss_mb()
        run.log("checks done")
        diag = run.diagnostics()
        if run.trace:
            run.tracer.restore()
            run.tracer.dump(run.path("spans.jsonl"))
            report_trace(run)
    finally:
        run.stop_spark()
        spans = run.path("spans.jsonl")
        if run.trace and os.path.exists(spans):
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            os.replace(spans, os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.jsonl"))
        run.cleanup()
        run.log("stopped")

    run.layer.update(diag)
    print("# diag " + json.dumps({k: round(v, 4) for k, v in diag.items()}))
    for f in run.failures:
        print(f"# failed: {f}", file=sys.stderr)
    units = declared_units("per_layer" if run.trace else "end_to_end")
    values = run.layer if run.trace else run.e2e
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if run.failed == 0 else 1


def report_trace(run) -> None:
    """Per-layer self times, tracing overhead and the traced run's own
    end-to-end figures (compare with the untraced run of the same seed)."""
    L = run.layer
    st = run.tracer.self_times()
    for layer in ("session", "binlog", "applier", "dedup", "lake", "streaming", "verify", "bench"):
        L[f"self.{layer}_s"] = st.get(layer, 0.0)
    wall = max(b for *_x, b in run.tracer.spans) - min(a for *_x, a, _b in run.tracer.spans)
    L["trace.spans"] = len(run.tracer.spans)
    L["trace.overhead_pct"] = 100.0 * (run.tracer.own_s + run.jobs.own_s) / wall
    for k in ("events_per_s", "commit_p50_s", "lookup_p50_ms"):
        L[f"trace.{k}"] = run.e2e[k]
    L["spark.jobs_per_lookup"] = run.jobs.median("lookup", 0)
    for k in ("lake.changes_s", "lake.changes_rows", "lake.changed_buckets",
              "stream.batches", "stream.batch_p75_s", "stream.apply_share",
              "stream.overhead_s"):
        L.setdefault(k, 0.0)  # measured by serve_mixed only


if __name__ == "__main__":
    sys.exit(main())

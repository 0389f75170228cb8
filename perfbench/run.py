"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the engine. Builds the workload's inputs
from the seed, measures for about S seconds, checks every output, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones from a traced run (spans + Spark event log).
Every file the run writes lives under a temp root inside the checkout,
removed at exit. Exit code 0 only when every output check passed."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "emr_flink_example_spark"
WORK_DIR = ".perfbench_work"

#: end-to-end metrics (every workload reports each one; see README.md for
#: what each means per workload) -> unit
E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "scan_s": "s",
    "near_dup_recall": "ratio",
    "ann_recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}

#: per-layer metrics of the traced run -> unit. A layer a workload leaves
#: idle reports 0 there.
PER_LAYER = {
    "sources.input_lag_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.rows_per_batch": "count",
    "sources.malformed_dropped": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.trigger_ms_max": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "partition_commit.write_spark_ms": "ms",
    "partition_commit.publish_renames_ms": "ms",
    "partition_commit.stats_ms": "ms",
    "partition_commit.commit_ms": "ms",
    "partition_commit.partitions_committed": "count",
    "partition_commit.ledger_bytes": "bytes",
    "sink.files_written": "count",
    "sink.files_per_partition": "count",
    "sink.bytes_per_row": "bytes",
    "gen.late_ms_max": "ms",
    "textstats.quality_s": "s",
    "curation.gates_s": "s",
    "curation.write_s": "s",
    "curation.kept_docs": "count",
    "dedup.signatures_s": "s",
    "dedup.pairs_s": "s",
    "dedup.components_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "similarity.train_s": "s",
    "similarity.search_s": "s",
    "similarity.queries_per_s": "1/s",
    "cache.pinned_frames": "count",
    "cache.storage_mb_peak": "MB",
    "relational.query_s": "s",
    "event_time.query_s": "s",
    "analytics.query_s": "s",
    "timeseries.query_s": "s",
    "dataquality.query_s": "s",
    "io.scan_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "spark.gc_ms": "ms",
    "spark.executor_cpu_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_pct": "%",
}

WORKLOADS = ("ingest_ad_events", "curate_corpus", "analytics_mix")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _stop_spark(ctx) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _trace_metrics(ctx, metrics: dict) -> dict:
    from perfbench.spans import spark_event_metrics

    tr = ctx.tracer
    extra = [s for s in tr.spans if s["layer"] == "trace"
             and (s["parent"] is None or tr.spans[s["parent"]]["layer"] != "trace")]
    overhead = tr.cost + sum(s["end"] - s["start"] for s in extra)
    inside = sum(s["end"] - s["start"] for s in extra
                 if ctx.window[0] <= s["start"] and s["end"] <= ctx.window[1])
    untraced = (ctx.window[1] - ctx.window[0]) - inside
    metrics = dict(metrics)
    metrics.update(spark_event_metrics(ctx.event_log))
    metrics["trace.overhead_s"] = overhead
    metrics["trace.overhead_pct"] = 100.0 * overhead / untraced if untraced > 0 else 0.0
    for layer, s in sorted(tr.self_time().items()):
        print(f"self time {layer:>18}: {s:9.3f} s", file=sys.stderr)
    print("spans: " + json.dumps(tr.spans), file=sys.stderr)
    return {k: float(metrics.get(k, 0.0)) for k in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # the generator and remove the temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return _fail(f"no {PACKAGE} package under {ROOT}: run from a full checkout")
    sys.path.insert(0, ROOT)
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        return _fail(f"{PACKAGE} resolved outside the checkout: {pkg.__file__}")

    from perfbench import wl_curate, wl_ingest, wl_mix
    from perfbench.common import Checks, Ctx
    from perfbench.spans import Tracer

    os.makedirs(os.path.join(ROOT, WORK_DIR), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(ROOT, WORK_DIR))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # launcher JVM, as JVM_OPTS
    ctx = Ctx(root=ROOT, work=work, seed=a.seed, seconds=a.seconds,
              tracer=Tracer(bool(a.trace)), event_log=os.path.join(work, "eventlog"))
    os.makedirs(ctx.event_log)
    checks = Checks()
    module = {"ingest_ad_events": wl_ingest, "curate_corpus": wl_curate,
              "analytics_mix": wl_mix}[a.workload]
    metrics: dict = {}
    try:
        try:
            metrics = module.run(ctx, checks)
            if ctx.setup_s:
                metrics["setup_s"] = median(ctx.setup_s)
            _stop_spark(ctx)  # flushes the event log
            if a.trace and not checks.failures:
                metrics = _trace_metrics(ctx, metrics)
        except Exception:
            traceback.print_exc()
            checks.check(False, "workload raised")
    finally:
        try:
            _stop_spark(ctx)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.join(ROOT, WORK_DIR))
            except OSError:
                pass  # another run is using it
    print(f"{a.workload}: setup samples {[round(s, 3) for s in ctx.setup_s]}",
          file=sys.stderr)
    units = PER_LAYER if a.trace else E2E
    missing = [k for k in units if k not in metrics]
    if missing and not checks.failures:
        checks.check(False, f"metrics not measured: {missing}")
    for f in checks.failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not checks.failures,
        "attempted": max(1, ctx.attempted, len(checks.failures)),
        "failed": len(checks.failures),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items() if k in metrics},
    }))
    return 1 if checks.failures else 0


if __name__ == "__main__":
    sys.exit(main())

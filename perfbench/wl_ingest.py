"""`ingest_ad_events`: the reference's Kafka2S3Hive job (≙
`streaming.pipelines.hive_sink`) over a file-stream source fed by an
open-loop generator process.

Timeline of a run: stage a backlog (a restart after an outage), start the
live generator and the query together, let the backlog drain (catch-up),
measure `seconds` of live traffic, stop the generator, drain what is left,
stop the query, then check the landed table and scan it (all landed files,
read back through `io.read_any`)."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time
from statistics import median

import numpy as np
import pyarrow.parquet as pq

from . import gen
from .common import Checks, Ctx, peak_rss_mb, scan_median, start_session

#: fixed live rate (events/s), well under the sink's catch-up capacity
RATE = 1000
#: the generator drops one file every TICK_S seconds
TICK_S = 0.1
#: micro-batch trigger interval (PipelineConfig.checkpoint_interval)
TRIGGER_S = 1
#: event-time seconds of backlog staged before the query starts, at RATE
BACKLOG_S = 100
#: partition-commit timing of the reference (Kafka2S3Hive.scala:70,103)
COMMIT_DELAY_S = 60
WATERMARK_LAG_S = 5
TABLE = "bench.ad_events"
#: events per set-up rep pushed through a throwaway copy of the pipeline
WARMUP_EVENTS = 500


class StageLog(dict):
    """The `stage_ms` accumulator handed to hive_sink: a dict that also
    remembers when each stage total moved, so a batch's stage spans can be
    rebuilt afterwards."""

    def __init__(self) -> None:
        super().__init__()
        self.events: list[tuple[float, str, float]] = []

    def __setitem__(self, key, value) -> None:
        self.events.append((time.time(), key, value - self.get(key, 0.0)))
        super().__setitem__(key, value)


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _iso_s(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _landed(table_path: str) -> dict:
    """Every published data file: batch id, partition and rows."""
    uuids, ts, batch, parts = [], [], [], []
    n_files, n_bytes = 0, 0
    for d, dirs, files in os.walk(table_path):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if not (f.startswith("batch-") and f.endswith(".parquet")):
                continue
            rel = os.path.relpath(d, table_path).split(os.sep)
            part = tuple(kv.split("=", 1)[1] for kv in rel)
            t = pq.read_table(os.path.join(d, f), columns=["uuid", "timestamp"])
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, f))
            uuids += t.column("uuid").to_pylist()
            ts.append(t.column("timestamp").to_numpy())
            bid = int(f.split("-")[1])
            batch.append(np.full(t.num_rows, bid))
            parts += [part] * t.num_rows
    return {
        "uuid": uuids,
        "ts": np.concatenate(ts) if ts else np.zeros(0, np.int64),
        "batch": np.concatenate(batch) if batch else np.zeros(0, np.int64),
        "part": parts,
        "files": n_files,
        "bytes": n_bytes,
    }


def _part_minute(part: tuple) -> int:
    d = dt.datetime.strptime(f"{part[0]} {part[1]}:{part[2]}", "%Y-%m-%d %H:%M")
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) // 60


def _config(ctx: Ctx, name: str, table: str):
    from emr_flink_example_spark.config import PipelineConfig

    return PipelineConfig(
        job="hive", checkpoint_dir=ctx.dir(name, "checkpoint"),
        checkpoint_interval=TRIGGER_S, hive_s3_path=ctx.dir(name, "table"),
        source_format="file", source_path=ctx.dir(name, "source"),
        database=table.split(".")[0], hive_table_name=table.split(".")[1],
    )


def run(ctx: Ctx, checks: Checks) -> dict:
    from emr_flink_example_spark.catalog_ddl import create_external_table
    from emr_flink_example_spark.sources.streams import parsed_ad_stream
    from emr_flink_example_spark.streaming.pipelines import hive_sink

    tr = ctx.tracer
    cfg = _config(ctx, "ingest", TABLE)
    src, table_path, ckpt = cfg.source_path, cfg.hive_s3_path, cfg.checkpoint_dir

    def prep(spark):
        """Create the sink table, then push a few events through a
        throwaway copy of the pipeline, as a service does before it takes
        traffic, so catch-up measures the sink rather than JVM warm-up."""
        create_external_table(spark, cfg)
        w = _config(ctx, f"warmup-{len(ctx.setup_s)}", "bench.warmup")
        gen.stage_backlog(w.source_path, ctx.seed, int(time.time() * 1000), 1, WARMUP_EVENTS)
        q = hive_sink(parsed_ad_stream(spark, w), w)
        q.processAllAvailable()
        q.stop()

    start_session(ctx, prep)
    spark = ctx.spark

    backlog = gen.stage_backlog(src, ctx.seed, int(time.time() * 1000), BACKLOG_S, RATE)
    stop_file, summary = ctx.path("gen", "stop"), ctx.path("gen", "summary.json")
    gen_proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
         "--dir", src, "--seed", str(ctx.seed), "--rate", str(RATE), "--tick", str(TICK_S),
         "--stop-file", stop_file, "--summary", summary,
         "--max-seconds", str(ctx.seconds + 120)],
        cwd=ctx.root,
    )
    stage = StageLog() if tr.enabled else {}
    try:
        ctx.window[0] = time.perf_counter()
        t_start = time.time()
        with tr.span("sources", "parsed_ad_stream"):
            parsed = parsed_ad_stream(spark, cfg)
        with tr.span("streaming", "hive_sink.start"):
            query = hive_sink(parsed, cfg, stage_ms=stage)
        # the live window starts once the first micro-batch (which takes
        # every file present at start, so the whole backlog) has committed
        commit0 = os.path.join(ckpt, "commits", "0")
        while not os.path.exists(commit0):
            if query.exception() is not None or time.time() - t_start > 150:
                raise RuntimeError(f"backlog never drained: {query.exception()}")
            time.sleep(0.05)
        time.sleep(ctx.seconds)
        open(stop_file, "w").close()
        gen_proc.wait(timeout=30)
        query.processAllAvailable()
        progress = _progress(query)
        query.stop()
        ctx.window[1] = time.perf_counter()
    finally:
        open(stop_file, "w").close()
        if gen_proc.poll() is None:
            gen_proc.terminate()
        gen_proc.wait(timeout=30)
    if not checks.check(query.exception() is None, f"query failed: {query.exception()}"):
        return {}
    with open(summary) as f:
        live = json.load(f)

    # --- output checks ----------------------------------------------------
    landed = _landed(table_path)
    expected = set(backlog["landed"]) | set(live["landed"])
    n_lines = backlog["lines"] + live["lines"]
    n_malformed = backlog["malformed"] + live["malformed"]
    got = landed["uuid"]
    checks.check(len(got) == len(set(got)), "an event landed more than once")
    checks.check(set(got) == expected,
                 f"landed uuids differ: {len(expected - set(got))} missing,"
                 f" {len(set(got) - expected)} unexpected")
    checks.check(n_lines - len(got) == n_malformed,
                 f"dropped {n_lines - len(got)} lines, injected {n_malformed} malformed")
    row_min = landed["ts"] // 60000
    part_of = {p: _part_minute(p) for p in set(landed["part"])}
    checks.check(bool(np.all(row_min == np.array([part_of[p] for p in landed["part"]]))),
                 "partition values do not match event times")
    with open(os.path.join(table_path, "_partition_commits.json")) as f:
        ledger_text = f.read()
    ledger = json.loads(ledger_text)
    wm = dt.datetime.strptime(ledger["watermark"], "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=dt.timezone.utc).timestamp()
    # the committer derives its watermark from partition time, so it may
    # trail the event-time watermark, but must never run ahead of it
    checks.check(wm <= landed["ts"].max() // 1000 - WATERMARK_LAG_S,
                 "ledger watermark is ahead of max event time - lag")
    key = lambda p: (p["logday"], p["h"], p["m"])  # noqa: E731
    committed = {key(p) for p in ledger["committed"]}
    pending = {key(p) for p in ledger["pending"]}
    due = {p for p in part_of if part_of[p] * 60 + COMMIT_DELAY_S <= wm}
    checks.check(committed == due, f"ledger committed {len(committed)} partitions,"
                 f" {len(due)} are past watermark + delay")
    checks.check(committed | pending == set(part_of), "ledger lost a partition")
    n_catalog = spark.sql(f"SHOW PARTITIONS {TABLE}").count()
    checks.check(n_catalog == len(committed), "catalog partitions != ledger commits")

    # --- end-to-end metrics -----------------------------------------------
    commit_t = {}
    for name in os.listdir(os.path.join(ckpt, "commits")):
        if name.isdigit():
            commit_t[int(name)] = os.stat(os.path.join(ckpt, "commits", name)).st_mtime
    ctx.attempted = len(commit_t)
    row_commit = np.array([commit_t[b] for b in landed["batch"]])
    due_s = landed["ts"] / 1000.0
    backlog_ids = set(backlog["landed"])
    is_backlog = np.array([u in backlog_ids for u in got], dtype=bool)
    catchup_end = row_commit[is_backlog].max()
    catchup_s = catchup_end - t_start
    fresh_mask = (~is_backlog) & (due_s >= catchup_end)
    fresh = row_commit[fresh_mask] - due_s[fresh_mask]
    checks.check(len(fresh) >= 100, f"only {len(fresh)} live events after catch-up")

    from pyspark.sql import functions as F

    from emr_flink_example_spark.io import read_any

    scan_s, rows = scan_median(tr, "landed_scan", lambda: (
        read_any(spark, table_path, "parquet").groupBy("logday", "h")
        .agg(F.count("*").alias("n"), F.countDistinct("uuid").alias("u"),
             F.sum("ad_type").alias("s"))
        .collect()))
    checks.check(sum(r["n"] for r in rows) == len(got),
                 "scan of the landed table disagrees with its files")
    metrics = {
        "throughput_per_s": len(backlog["landed"]) / catchup_s,
        "latency_p50_s": float(np.percentile(fresh, 50)) if len(fresh) else 0.0,
        "latency_tail_s": float(np.percentile(fresh, 99)) if len(fresh) else 0.0,
        "scan_s": scan_s,
        # no dedup or ANN runs here; 1.0 keeps the shared metric set whole
        "near_dup_recall": 1.0,
        "ann_recall_at_10": 1.0,
        "peak_rss_mb": peak_rss_mb(),
    }
    print(f"ingest: backlog {len(backlog['landed'])} rows drained in {catchup_s:.2f} s;"
          f" freshness over {len(fresh)} live rows in"
          f" {len(set(landed['batch'][fresh_mask]))} batches", file=sys.stderr)
    if not tr.enabled:
        return metrics

    # --- per-layer (traced run) -------------------------------------------
    data = {p["batchId"]: p for p in progress if p.get("numInputRows", 0) > 0}
    dur = lambda k: [p["durationMs"].get(k, 0) for p in data.values()]  # noqa: E731
    for bid, p in sorted(data.items()):
        start = _iso_s(p["timestamp"])
        sid = tr.add("streaming", f"batch-{bid}", start,
                     start + p["durationMs"]["triggerExecution"] / 1000.0)
        for t_end, st, ms in stage.events:
            if start <= t_end <= start + p["durationMs"]["triggerExecution"] / 1000.0:
                tr.add("partition_commit", st, t_end - ms / 1000.0, t_end, parent=sid)
    n_batches = max(1, len(commit_t))
    start_of = {bid: _iso_s(p["timestamp"]) for bid, p in data.items()}
    live_rows = ~is_backlog
    lag = [start_of[b] - d for b, d in zip(landed["batch"][live_rows], due_s[live_rows])
           if b in start_of]
    parts_n = max(1, len(part_of))
    metrics.update({
        "sources.input_lag_s": median(lag) if lag else 0.0,
        "sources.latest_offset_ms": median(dur("latestOffset")),
        "sources.rows_per_batch": median([p["numInputRows"] for p in data.values()]),
        "sources.malformed_dropped": float(n_lines - len(got)),
        "streaming.batches": float(len(data)),
        "streaming.trigger_ms_p50": median(dur("triggerExecution")),
        "streaming.trigger_ms_max": float(max(dur("triggerExecution"))),
        "streaming.add_batch_ms": median(dur("addBatch")),
        "streaming.wal_commit_ms": median(dur("walCommit")),
        "streaming.commit_offsets_ms": median(dur("commitOffsets")),
        "partition_commit.write_spark_ms": stage.get("write_spark", 0.0) / n_batches,
        "partition_commit.publish_renames_ms": stage.get("publish_renames", 0.0) / n_batches,
        "partition_commit.stats_ms": stage.get("stats", 0.0) / n_batches,
        "partition_commit.commit_ms": stage.get("commit", 0.0) / n_batches,
        "partition_commit.partitions_committed": float(len(committed)),
        "partition_commit.ledger_bytes": float(len(ledger_text)),
        "sink.files_written": float(landed["files"]),
        "sink.files_per_partition": landed["files"] / parts_n,
        "sink.bytes_per_row": landed["bytes"] / max(1, len(got)),
        "gen.late_ms_max": float(live["late_ms_max"]),
    })
    return metrics

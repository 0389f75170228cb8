"""Streaming HLL sketch sink: per-batch register partitions max-merged
into a running distinct-count estimate (streaming twin of
sketch_hll_distinct / sketch_hll_merge)."""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import functions as F

from emr_flink_example_spark.operators.textstats import (
    HLL_ALPHA,
    HLL_M,
    HLL_P,
    _HLL_RHO_CAP,
)
from emr_flink_example_spark.streaming.hll_stream import (
    StreamingHllSketch,
    distinct_sketch_sink,
)


def _ref_estimate(ids) -> float:
    regs: dict[int, int] = {}
    for uid in ids:
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)
        rest = h >> HLL_P
        rho = _HLL_RHO_CAP if rest == 0 else len(bin(rest & -rest)) - 2
        b = h % HLL_M
        regs[b] = max(regs.get(b, 0), rho)
    s = sum(1 << (_HLL_RHO_CAP - m) for m in regs.values())
    s += (HLL_M - len(regs)) * (1 << _HLL_RHO_CAP)
    v0 = HLL_M - len(regs)
    raw = HLL_ALPHA * HLL_M * HLL_M * float(1 << _HLL_RHO_CAP) / s
    if raw <= 2.5 * HLL_M and v0 > 0:
        return round(float(HLL_M) * math.log(float(HLL_M) / v0), 2)
    return round(raw, 2)


def _batch(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "user_id bigint")


def test_incremental_merge_equals_union(spark, tmp_path):
    sink = StreamingHllSketch(str(tmp_path / "regs"))
    sink(_batch(spark, range(0, 500)), 0)
    sink(_batch(spark, range(300, 900)), 1)  # overlap: merge must dedup
    got = sink.estimate(spark)
    assert got == _ref_estimate(range(0, 900))
    # mergeability: register table equals the one built from the union
    direct = {
        (r.bucket, r.m_j)
        for r in sink._batch_registers(_batch(spark, range(0, 900))).collect()
    }
    merged = {(r.bucket, r.m_j) for r in sink.registers(spark).collect()}
    assert merged == direct


def test_replay_is_idempotent(spark, tmp_path):
    sink = StreamingHllSketch(str(tmp_path / "regs"))
    sink(_batch(spark, range(100)), 0)
    before = sink.estimate(spark)
    sink(_batch(spark, range(100)), 0)  # checkpoint replay of batch 0
    assert sink.estimate(spark) == before


def test_compaction_preserves_registers(spark, tmp_path):
    regs_path = tmp_path / "regs"
    sink = StreamingHllSketch(str(regs_path), compact_every=2)
    sink(_batch(spark, range(0, 200)), 0)
    sink(_batch(spark, range(200, 400)), 1)
    sink(_batch(spark, range(400, 600)), 2)  # triggers compaction of 0+1
    dirs = [d for d in os.listdir(regs_path) if d.startswith("batch_id=")]
    assert sorted(dirs) == ["batch_id=0", "batch_id=2"]
    # compaction merged batch 1 into batch 0's partition, registers intact
    merged01 = {
        (r.bucket, r.m_j)
        for r in spark.read.parquet(str(regs_path / "batch_id=0")).collect()
    }
    direct01 = {
        (r.bucket, r.m_j)
        for r in sink._batch_registers(_batch(spark, range(0, 400))).collect()
    }
    assert merged01 == direct01
    assert sink.estimate(spark) == _ref_estimate(range(600))


def test_compaction_crash_window_is_duplicate_only(spark, tmp_path):
    """_compact publishes the merged registers into the visible target
    partition BEFORE deleting any source. Simulate a crash at the worst
    intermediate point — merged file published, sources and superseded
    files all still present — and assert the read-side answer is already
    correct (duplicates max-merge away), i.e. no state in the window can
    lose registers."""
    regs_path = tmp_path / "regs"
    sink = StreamingHllSketch(str(regs_path), compact_every=0)
    sink(_batch(spark, range(0, 200)), 0)
    sink(_batch(spark, range(200, 400)), 1)
    # manual "publish" step: merged registers copied into batch_id=0
    # alongside its original files, sources untouched (the crash state)
    merged = sink._batch_registers(_batch(spark, range(0, 400)))
    merged.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "m"))
    import shutil

    i = 0
    for f in sorted(os.listdir(tmp_path / "m")):
        if f.endswith(".parquet"):
            shutil.copy(
                tmp_path / "m" / f,
                regs_path / "batch_id=0" / f"compacted-99-{i:05d}.parquet",
            )
            i += 1
    # every partition still present + duplicates in batch 0: estimate exact
    assert sink.estimate(spark) == _ref_estimate(range(400))
    # and a subsequent real compaction converges to the clean layout
    sink.compact_every = 2
    sink(_batch(spark, range(400, 600)), 2)
    dirs = [d for d in os.listdir(regs_path) if d.startswith("batch_id=")]
    assert sorted(dirs) == ["batch_id=0", "batch_id=2"]
    assert not [d for d in os.listdir(regs_path) if d.startswith(".")]
    assert sink.estimate(spark) == _ref_estimate(range(600))


def test_compaction_replay_same_batch_id_after_crash(spark, tmp_path):
    """Checkpoint replay of the SAME compaction batch after a crash must
    not lose registers. Crash state simulated: the first run published its
    merged file (`compacted-2-00000.parquet` — the run's OWN deterministic
    rename destination name) into the target partition, then died before
    deleting old[1:]. The replayed run re-merges, renames onto the same
    path, and must NOT list that path as superseded — doing so would
    os.remove() the fresh merged file after old[1:] were rmtree'd,
    leaving the partition empty (silent loss of all compacted state)."""
    regs_path = tmp_path / "regs"
    sink = StreamingHllSketch(str(regs_path), compact_every=0)
    sink(_batch(spark, range(0, 200)), 0)
    sink(_batch(spark, range(200, 400)), 1)
    sink(_batch(spark, range(400, 600)), 2)
    # first _compact run for batch 2... which crashes mid-way: merged file
    # published under the run's own name, old[1:] NOT yet deleted.
    merged = sink._batch_registers(_batch(spark, range(0, 400)))
    merged.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "m"))
    import shutil

    i = 0
    for f in sorted(os.listdir(tmp_path / "m")):
        if f.endswith(".parquet"):
            shutil.copy(
                tmp_path / "m" / f,
                regs_path / "batch_id=0" / f"compacted-2-{i:05d}.parquet",
            )
            i += 1
    assert sink.estimate(spark) == _ref_estimate(range(600))
    # checkpoint replay: _compact re-runs with the SAME current_batch_id
    sink._compact(spark, 2)
    dirs = [d for d in os.listdir(regs_path) if d.startswith("batch_id=")]
    assert sorted(dirs) == ["batch_id=0", "batch_id=2"]
    # the target partition still holds the merged registers (non-empty!)
    assert [
        f for f in os.listdir(regs_path / "batch_id=0") if f.endswith(".parquet")
    ]
    merged01 = {
        (r.bucket, r.m_j)
        for r in spark.read.parquet(str(regs_path / "batch_id=0")).collect()
    }
    direct01 = {
        (r.bucket, r.m_j)
        for r in sink._batch_registers(_batch(spark, range(0, 400))).collect()
    }
    assert merged01 == direct01
    assert sink.estimate(spark) == _ref_estimate(range(600))


def test_end_to_end_stream(spark, tmp_path):
    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "a.txt", "w") as f:
        f.write("\n".join(str(i) for i in range(250)))
    stream = (
        spark.readStream.format("text")
        .load(str(src))
        .select(F.col("value").cast("bigint").alias("user_id"))
    )
    query = distinct_sketch_sink(
        stream, str(tmp_path / "regs"), str(tmp_path / "ckpt")
    )
    try:
        query.processAllAvailable()
        with open(src / "b.txt", "w") as f:
            f.write("\n".join(str(i) for i in range(200, 450)))
        query.processAllAvailable()
    finally:
        query.stop()
        query.awaitTermination(30)
    sink = StreamingHllSketch(str(tmp_path / "regs"))
    assert sink.estimate(spark) == _ref_estimate(range(450))

"""Streaming exact-k weighted sample (ES exponential race): per-batch
candidate partitions min-k-merged into a running sample — the streaming
twin of sample_weighted_es, with the hll_stream state discipline."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from emr_flink_example_spark.operators.sampling import with_es_key
from emr_flink_example_spark.streaming.es_sample_stream import (
    StreamingEsSample,
    es_sample_sink,
)


def _docs(spark, ids):
    # weights vary with the id so the race is genuinely weighted
    return spark.createDataFrame(
        [(i, (i * 37) % 211 + 1) for i in ids], "doc_id bigint, n_chars int"
    )


def _batch_ref(spark, ids, k):
    """The batch operator's selection over the same union of rows."""
    return [
        (r.doc_id, r.es_key_nano)
        for r in with_es_key(_docs(spark, ids))
        .orderBy(F.col("es_key_nano").asc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "es_key_nano")
        .collect()
    ]


def _got(sink, spark):
    return [
        (r.doc_id, r.es_key_nano)
        for r in sink.sample(spark)
        .orderBy("es_key_nano", "doc_id")
        .select("doc_id", "es_key_nano")
        .collect()
    ]


def test_streamed_sample_equals_batch_over_union(spark, tmp_path):
    sink = StreamingEsSample(str(tmp_path / "cands"), k=25)
    sink(_docs(spark, range(0, 300)), 0)
    sink(_docs(spark, range(300, 700)), 1)
    sink(_docs(spark, range(700, 900)), 2)
    assert _got(sink, spark) == _batch_ref(spark, range(0, 900), 25)


def test_replay_is_idempotent(spark, tmp_path):
    sink = StreamingEsSample(str(tmp_path / "cands"), k=10)
    sink(_docs(spark, range(0, 200)), 0)
    sink(_docs(spark, range(200, 400)), 1)
    before = _got(sink, spark)
    sink(_docs(spark, range(200, 400)), 1)  # checkpoint replay
    assert _got(sink, spark) == before


def test_compaction_preserves_sample_and_bounds_dirs(spark, tmp_path):
    cands = tmp_path / "cands"
    sink = StreamingEsSample(str(cands), k=15, compact_every=2)
    sink(_docs(spark, range(0, 200)), 0)
    sink(_docs(spark, range(200, 400)), 1)
    sink(_docs(spark, range(400, 600)), 2)  # compacts 0+1
    dirs = [d for d in os.listdir(cands) if d.startswith("batch_id=")]
    assert sorted(dirs) == ["batch_id=0", "batch_id=2"]
    assert _got(sink, spark) == _batch_ref(spark, range(0, 600), 15)
    # the compacted partition is pruned to k rows (state stays O(k))
    assert spark.read.parquet(str(cands / "batch_id=0")).count() == 15


def test_compaction_crash_and_same_batch_replay_safe(spark, tmp_path):
    """Crash state (merged file published, sources intact) answers
    correctly, and a same-batch_id compaction replay converges without
    deleting its own output (the hll_stream collision fix)."""
    import shutil

    cands = tmp_path / "cands"
    sink = StreamingEsSample(str(cands), k=12, compact_every=0)
    for b in range(3):
        sink(_docs(spark, range(b * 200, (b + 1) * 200)), b)
    merged = sink._top_k(
        spark.read.option("basePath", str(cands))
        .parquet(str(cands / "batch_id=0"), str(cands / "batch_id=1"))
        .drop("batch_id")
    )
    merged.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "m"))
    i = 0
    for f in sorted(os.listdir(tmp_path / "m")):
        if f.endswith(".parquet"):
            shutil.copy(
                tmp_path / "m" / f,
                cands / "batch_id=0" / f"compacted-2-{i:05d}.parquet",
            )
            i += 1
    # duplicates-only window: the sample is already exact
    assert _got(sink, spark) == _batch_ref(spark, range(0, 600), 12)
    # replay the compaction with the SAME batch id
    sink._compact(spark, 2)
    assert sorted(
        d for d in os.listdir(cands) if d.startswith("batch_id=")
    ) == ["batch_id=0", "batch_id=2"]
    assert [
        f for f in os.listdir(cands / "batch_id=0") if f.endswith(".parquet")
    ]
    assert _got(sink, spark) == _batch_ref(spark, range(0, 600), 12)


def test_end_to_end_stream(spark, tmp_path):
    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "a.txt", "w") as f:
        f.write("\n".join(str(i) for i in range(250)))
    stream = (
        spark.readStream.format("text")
        .load(str(src))
        .select(F.col("value").cast("bigint").alias("doc_id"))
        .select("doc_id", ((F.col("doc_id") * 37) % 211 + 1).alias("n_chars"))
    )
    query = es_sample_sink(
        stream, str(tmp_path / "cands"), str(tmp_path / "ckpt"), k=20
    )
    try:
        query.processAllAvailable()
        with open(src / "b.txt", "w") as f:
            f.write("\n".join(str(i) for i in range(250, 500)))
        query.processAllAvailable()
    finally:
        query.stop()
        query.awaitTermination(30)
    sink = StreamingEsSample(str(tmp_path / "cands"), k=20)
    assert _got(sink, spark) == _batch_ref(spark, range(0, 500), 20)

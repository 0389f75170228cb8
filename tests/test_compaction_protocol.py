"""The one crash protocol behind every compacting state directory
(`compaction.compact_generation`): for each of its five callers, a
compaction that crashes before the commit marker, or after it but before
any source is deleted, and is then replayed with the same generation
leaves exactly the merged state of the uncompacted directories — no
lost rows, no double-counted ones — through LocalFS and HadoopFS alike."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from emr_flink_example_spark.streaming.cms_stream import StreamingCountMin
from emr_flink_example_spark.streaming.compaction import compact_partition_atomic
from emr_flink_example_spark.streaming.dedup_stream import NearDupStreamFilter
from emr_flink_example_spark.streaming.es_sample_stream import StreamingEsSample
from emr_flink_example_spark.streaming.fsio import HadoopFS, LocalFS
from emr_flink_example_spark.streaming.hll_stream import StreamingHllSketch

from test_cms_stream import _crash_compact, _stream_keys

GEN = 3  # batches 0..2 are written, batch 3's compaction folds them


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _hll(spark, root):
    sink = StreamingHllSketch(root + "/regs", compact_every=0)
    for b in range(GEN):
        sink(
            spark.range(b * 200, (b + 1) * 200).select(F.col("id").alias("user_id")),
            b,
        )
    states = [(sink.registers_path, _rows(sink.registers(spark)))]
    return sink.fs, lambda: sink._compact(spark, GEN), states


def _cms(spark, root):
    sink = StreamingCountMin(root + "/cms", compact_every=0)
    for b, keys in enumerate(_stream_keys()):
        sink(spark.createDataFrame([(k,) for k in keys], "token string"), b)
    cands = (
        spark.read.parquet(sink.cands_path)
        .groupBy("k")
        .agg(F.sum("cnt").alias("cnt"))
    )
    states = [
        (sink.cells_path, _rows(sink.cells(spark))),
        (sink.cands_path, _rows(cands)),
    ]
    return sink.fs, lambda: sink._compact(spark, GEN), states


def _es(spark, root):
    sink = StreamingEsSample(root + "/cands", k=12, compact_every=0)
    for b in range(GEN):
        sink(
            spark.range(b * 200, (b + 1) * 200).select(
                F.col("id").alias("doc_id"),
                ((F.col("id") * 37) % 211 + 1).alias("n_chars"),
            ),
            b,
        )
    states = [(sink.cands_path, _rows(sink.sample(spark).drop("batch_id")))]
    return sink.fs, lambda: sink._compact(spark, GEN), states


def _dedup(spark, root):
    sink = NearDupStreamFilter(root + "/out", root + "/idx", compact_every=0)
    texts = [
        "streaming dedup probes a parquet band index of accepted documents",
        "count min sketches sum merge their cell tables across micro batches",
        "weighted reservoir samples keep the smallest exponential race keys",
    ]
    for b, t in enumerate(texts):
        sink(spark.createDataFrame([(b, t)], "doc_id bigint, text string"), b)
    index = spark.read.parquet(sink.index_path).drop("batch_id")
    states = [(sink.index_path, _rows(index))]
    return sink.fs, lambda: sink._compact_index(spark, GEN), states


def _hive(spark, root, fs):
    part = root + "/tbl/day=2021-01-01"
    stage = root + "/stage"
    fs.makedirs(part)
    for b in range(GEN):
        spark.range(b * 10, (b + 1) * 10).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        (src,) = [f for f in fs.list_files(stage) if f.endswith(".parquet")]
        fs.rename_overwrite(
            fs.join(stage, src), fs.join(part, f"batch-{b}-00000.parquet")
        )
    states = [(part, _rows(spark.read.parquet(part)))]
    return (
        lambda: compact_partition_atomic(spark, part, GEN, 1 << 30, fs=fs),
        states,
    )


CALLERS = {"hll": _hll, "cms": _cms, "es": _es, "dedup": _dedup, "hive": _hive}


@pytest.mark.parametrize("impl", ["local", "hadoop"])
@pytest.mark.parametrize("crash_at", ["pre_marker", "pre_cleanup"])
@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_crash_then_replay_equals_uncompacted_state(
    spark, tmp_path, caller, crash_at, impl
):
    if impl == "local":
        fs, root = LocalFS(), str(tmp_path)
    else:
        fs, root = HadoopFS(spark), "file://" + str(tmp_path)
    if caller == "hive":
        compact, states = _hive(spark, root, fs)
    else:
        # state sinks resolve their fsio backend from the path scheme
        sink_fs, compact, states = CALLERS[caller](spark, root)
        assert type(sink_fs) is type(fs)
    # each state path maps to the one directory its compaction targets
    targets = [
        path if caller == "hive" else fs.join(path, "batch_id=0")
        for path, _ in states
    ]
    marker = "_compact-3.committed"

    # the crash hits the first directory compacted (count-min compacts
    # its cells before its candidates)
    assert _crash_compact(fs, compact, crash_at)
    names = fs.list_files(targets[0])
    assert any(n.startswith("compacted-3-") for n in names), names
    assert (marker in names) == (crash_at == "pre_cleanup"), names

    compact()  # checkpoint replay of the same generation

    for (path, expected), target in zip(states, targets):
        if caller != "hive":
            assert fs.list_dirs(path) == ["batch_id=0"], fs.list_dirs(path)
        data = [f for f in fs.list_files(target) if not f.startswith((".", "_"))]
        assert data and all(f.startswith("compacted-3-") for f in data), data
        assert marker not in fs.list_files(target)
        # the folded directory holds exactly the merged answer the
        # uncompacted directories gave: no lost rows, no duplicated ones
        assert _rows(spark.read.parquet(target)) == expected, (caller, path)

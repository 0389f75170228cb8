"""Streaming incremental near-dup filter: cross-batch dedup against the
parquet band index (streaming twin of dedup_incremental_minhash)."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from emr_flink_example_spark.streaming.dedup_stream import (
    NearDupStreamFilter,
    near_dup_filter_sink,
)

# ~46 tokens so the one-token change keeps true Jaccard ~0.93: with the
# r13 full-range permutations the 4x4 banding is an HONEST J^4-per-band
# coin — the old 25-token text (J ~ 0.77) only band-collided because the
# degenerate perms shared an argmin (see tests/test_minhash_perms.py)
BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "by the warm fire and the rain falls softly outside the window and "
    "the clock on the wall ticks slowly through the quiet evening as "
    "shadows stretch across the wooden floor toward the open door"
)
NEAR = BASE.replace("softly", "gently")  # one-token change: near-dup
DISTINCT = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution and shuffles"
)


def _write_doc(path: str, doc_id: int, text: str, name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write(f"{doc_id}\t{text}\n")


def test_cross_batch_near_dup_dropped(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    _write_doc(src, 1, BASE, "b0.txt")

    stream = (
        spark.readStream.format("text")
        .load(src)
        .select(F.split("value", "\t").alias("p"))
        .select(
            F.col("p")[0].cast("bigint").alias("doc_id"),
            F.col("p")[1].alias("text"),
        )
    )
    query = near_dup_filter_sink(stream, out, idx, str(tmp_path / "ckpt"))
    try:
        query.processAllAvailable()
        # batch 2: one near-dup of batch 1's doc, one genuinely new doc
        _write_doc(src, 2, NEAR, "b1.txt")
        _write_doc(src, 3, DISTINCT, "b2.txt")
        query.processAllAvailable()
    finally:
        query.stop()
        query.awaitTermination(30)

    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 1 in kept and 3 in kept
    assert 2 not in kept  # near-dup of doc 1 across batches -> dropped
    # the index holds only survivors' bands, N_BANDS rows per doc
    index = spark.read.parquet(idx)
    assert {r.doc_id for r in index.collect()} == {1, 3}
    assert index.count() == 2 * 4


def test_replayed_batch_is_idempotent(spark, tmp_path):
    out, idx = str(tmp_path / "c"), str(tmp_path / "i")
    sink = NearDupStreamFilter(out, idx)
    batch = spark.createDataFrame([(1, BASE)], "doc_id bigint, text string")
    sink(batch, 0)
    sink(batch, 0)  # checkpoint replay of the same micro-batch id
    assert spark.read.parquet(out).count() == 1
    assert spark.read.parquet(idx).count() == 4  # one row per band, once


def test_corrupt_index_fails_batch_instead_of_skipping(spark, tmp_path):
    """A transient/corrupt index read must FAIL the micro-batch (so the
    checkpoint retries) — silently treating a broken index as empty would
    admit near-dups, the one failure mode this component prevents."""
    import pytest

    out, idx = str(tmp_path / "c"), str(tmp_path / "i")
    sink = NearDupStreamFilter(out, idx)
    sink(spark.createDataFrame([(1, BASE)], "doc_id bigint, text string"), 0)
    # corrupt the accumulated index: invalid parquet bytes
    victim = next(
        os.path.join(r, f)
        for r, _, fs in os.walk(idx)
        for f in fs
        if f.endswith(".parquet")
    )
    with open(victim, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        sink(spark.createDataFrame([(2, NEAR)], "doc_id bigint, text string"), 1)


def test_missing_or_empty_index_means_first_batch(spark, tmp_path):
    out, idx = str(tmp_path / "c"), str(tmp_path / "i")
    sink = NearDupStreamFilter(out, idx)
    assert sink._existing_index(spark) is None  # path absent
    os.makedirs(idx)
    assert sink._existing_index(spark) is None  # dir exists, no data files


def _parquet_dirs(idx):
    return sorted(d for d in os.listdir(idx) if d.startswith("batch_id="))


def test_index_compaction_bounds_files_and_preserves_probes(spark, tmp_path):
    """Every-N-batches compaction merges old index partitions (small-file
    accretion bound) without changing probe results: a near-dup of a
    long-compacted doc is still dropped, and replaying the triggering
    batch (checkpoint crash) is idempotent."""
    out, idx = str(tmp_path / "c"), str(tmp_path / "i")
    sink = NearDupStreamFilter(out, idx, compact_every=4)
    texts = {
        0: BASE,
        1: DISTINCT,
        2: "a third unrelated document about storage engines and bloom filters",
        3: "fourth unique text mentioning watermark semantics and event time",
    }
    for b, t in texts.items():
        sink(spark.createDataFrame([(b, t)], "doc_id bigint, text string"), b)
    assert len(_parquet_dirs(idx)) == 4  # no compaction yet (4 % 4 == 0 at b=4)

    # batch 4 triggers compaction of batches 0..3 -> dirs [0, 4]
    sink(
        spark.createDataFrame(
            [(4, "fifth text about morton codes and zorder clustering")],
            "doc_id bigint, text string",
        ),
        4,
    )
    assert _parquet_dirs(idx) == ["batch_id=0", "batch_id=4"]
    index = spark.read.parquet(idx)
    assert index.count() == 5 * 4  # every survivor's bands kept, 4 per doc
    assert {r.doc_id for r in index.select("doc_id").distinct().collect()} == {0, 1, 2, 3, 4}

    # probe against COMPACTED rows: near-dup of batch-0's doc still dropped
    sink(spark.createDataFrame([(5, NEAR)], "doc_id bigint, text string"), 5)
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert 5 not in kept

    # replay of the triggering batch: second compaction run is a no-op
    sink(
        spark.createDataFrame(
            [(4, "fifth text about morton codes and zorder clustering")],
            "doc_id bigint, text string",
        ),
        4,
    )
    assert _parquet_dirs(idx) == ["batch_id=0", "batch_id=4", "batch_id=5"]
    assert spark.read.parquet(idx).where(F.col("doc_id") == 4).count() == 4


def test_index_compaction_crash_windows_never_lose_rows(spark, tmp_path):
    """r9 hardening (same class as the hll_stream ADVICE fix): compaction
    publishes merged files INTO the oldest partition before deleting any
    source. Two crash states are simulated:

    1. merged file published, old[1:] and superseded files still present
       — the index must already answer correctly (duplicates distinct()
       away);
    2. checkpoint replay of the SAME compaction batch from state 1 — the
       replayed run's deterministic rename destinations collide with the
       published file, which must NOT be treated as superseded (deleting
       it would empty the oldest partition after old[1:] were removed)."""
    import shutil

    out, idx = str(tmp_path / "c"), str(tmp_path / "i")
    sink = NearDupStreamFilter(out, idx, compact_every=0)
    texts = {
        0: BASE,
        1: DISTINCT,
        2: "a third unrelated document about storage engines and bloom filters",
        3: "fourth unique text mentioning watermark semantics and event time",
    }
    for b, t in texts.items():
        sink(spark.createDataFrame([(b, t)], "doc_id bigint, text string"), b)
    # crash state 1: run 4's merge of batches 0..3 published into
    # batch_id=0 under run 4's own deterministic name, nothing deleted yet
    merged = spark.read.option("basePath", idx).parquet(
        *[os.path.join(idx, f"batch_id={b}") for b in range(4)]
    ).drop("batch_id")
    merged.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "m"))
    i = 0
    for f in sorted(os.listdir(tmp_path / "m")):
        if f.endswith(".parquet"):
            shutil.copy(
                tmp_path / "m" / f,
                os.path.join(idx, "batch_id=0", f"compacted-4-{i:05d}.parquet"),
            )
            i += 1
    # all partitions + duplicates present: a probe still drops the near-dup
    sink(spark.createDataFrame([(5, NEAR)], "doc_id bigint, text string"), 5)
    assert 5 not in {r.doc_id for r in spark.read.parquet(out).collect()}
    # crash state 2: replay of compaction batch 4 from this layout
    sink.compact_every = 4
    sink(
        spark.createDataFrame(
            [(4, "fifth text about morton codes and zorder clustering")],
            "doc_id bigint, text string",
        ),
        4,
    )
    assert _parquet_dirs(idx) == ["batch_id=0", "batch_id=4", "batch_id=5"]
    # the oldest partition is non-empty and holds every compacted doc
    assert [
        f
        for f in os.listdir(os.path.join(idx, "batch_id=0"))
        if f.endswith(".parquet")
    ]
    # every ACCEPTED doc's features survive (5 was dropped as a near-dup,
    # so it never extended the index)
    index = spark.read.parquet(idx)
    assert {r.doc_id for r in index.select("doc_id").distinct().collect()} == {
        0, 1, 2, 3, 4,
    }
    # and a near-dup of a compacted doc is still dropped after the replay
    sink(spark.createDataFrame([(6, NEAR)], "doc_id bigint, text string"), 6)
    assert 6 not in {r.doc_id for r in spark.read.parquet(out).collect()}


def _vec(seed, dim=64, flip=0):
    import random

    rng = random.Random(seed)
    v = [rng.uniform(-1, 1) for _ in range(dim)]
    for i in range(flip):  # small perturbation: stays a near-dup by cosine
        v[i] += 0.01
    return v


def test_embedding_stream_filter_drops_cross_batch_near_dups(spark, tmp_path):
    from emr_flink_example_spark.streaming.dedup_stream import (
        EmbeddingNearDupStreamFilter,
    )

    out, idx = str(tmp_path / "c"), str(tmp_path / "i")
    sink = EmbeddingNearDupStreamFilter(out, idx, cosine_threshold=0.95)
    schema = "vec_id bigint, embedding array<double>"
    sink(spark.createDataFrame([(1, _vec(1))], schema), 0)
    # batch 1: near-dup of vec 1 (tiny perturbation), one orthogonal-ish
    # vector, and one all-zero vector (must pass through, not crash)
    sink(
        spark.createDataFrame(
            [(2, _vec(1, flip=3)), (3, _vec(99)), (4, [0.0] * 64)], schema
        ),
        1,
    )
    kept = {r.vec_id for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3, 4}  # 2 dropped as near-dup of 1; zero-vec kept
    index = spark.read.parquet(idx)
    # zero vector is never indexed (cosine undefined)
    assert {r.vec_id for r in index.collect()} == {1, 3}


def test_embedding_stream_filter_replay_idempotent(spark, tmp_path):
    from emr_flink_example_spark.streaming.dedup_stream import (
        EmbeddingNearDupStreamFilter,
    )

    out, idx = str(tmp_path / "c"), str(tmp_path / "i")
    sink = EmbeddingNearDupStreamFilter(out, idx, cosine_threshold=0.95)
    schema = "vec_id bigint, embedding array<double>"
    batch = spark.createDataFrame([(1, _vec(5))], schema)
    sink(batch, 0)
    sink(batch, 0)  # checkpoint replay: must not self-pair or duplicate
    assert spark.read.parquet(out).count() == 1
    assert spark.read.parquet(idx).count() == 1


def test_index_fingerprint_guards_feature_geometry(spark, tmp_path):
    """The persisted band index is stamped with a hash of the feature
    geometry (PERMS/banding); a mismatching — or missing — stamp on a
    non-empty index fails the batch loudly instead of silently never
    colliding with post-upgrade signatures (ADVICE r13)."""
    import pytest

    out, idx = str(tmp_path / "c"), str(tmp_path / "i")
    sink = NearDupStreamFilter(out, idx)
    batch = spark.createDataFrame([(1, BASE)], "doc_id bigint, text string")
    sink(batch, 0)
    fp_path = os.path.join(idx, NearDupStreamFilter.FINGERPRINT_FILE)
    assert os.path.exists(fp_path)  # stamped at index creation
    stamped = open(fp_path).read().strip()
    assert stamped == sink._feature_fingerprint()

    # same geometry: subsequent batches proceed
    sink(spark.createDataFrame([(3, DISTINCT)], "doc_id bigint, text string"), 1)

    # a stamp from different coefficients: fail loudly
    with open(fp_path, "w") as fh:
        fh.write("0123456789abcdef0123456789abcdef\n")
    with pytest.raises(RuntimeError, match="feature geometry"):
        sink(spark.createDataFrame([(4, NEAR)], "doc_id bigint, text string"), 2)

    # missing stamp on a pre-existing index (pre-stamp era): same failure
    os.remove(fp_path)
    with pytest.raises(RuntimeError, match="feature geometry"):
        sink(spark.createDataFrame([(5, NEAR)], "doc_id bigint, text string"), 2)

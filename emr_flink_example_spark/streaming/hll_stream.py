"""Streaming distinct-count sketch: the streaming twin of
`operators.textstats.q_sketch_hll_distinct` / `q_sketch_hll_merge` —
each micro-batch contributes a tiny HyperLogLog register table, and the
running "distinct keys seen so far" answer is the max-merge of every
batch's registers.

Why this shape (the dedup_stream discipline, applied to a sketch):

  * state is explicit parquet (bucket, m_j) partitions, not a state
    store — readable by any consumer, and exactly what a 100 TB batch
    rollup would materialize per day anyway;
  * writes are idempotent BY CONSTRUCTION: a batch's registers are a
    pure function of the batch's rows, and each batch overwrites its own
    `batch_id=N` directory, so checkpoint replay rewrites identical
    bytes — and even a DOUBLE-counted batch could not skew the answer,
    because max-merge is idempotent (the property hard-removal dedup
    has to engineer, HLL gets for free);
  * the merged register table is 64 rows regardless of stream length —
    the estimate read is O(batches) tiny files, compacted every N
    batches into one directory by `compaction.compact_generation`, the
    protocol every compacting state directory shares.

Estimator identical to the batch op: trailing-zero rho over the portable
hash, exact-integer harmonic sum, linear-counting branch below 2.5m.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.hashing import portable_hash
from ..operators.textstats import HLL_ALPHA, HLL_M, HLL_P, _HLL_RHO_CAP
from .compaction import BatchDirSink
from .fsio import FSIO


class StreamingHllSketch(BatchDirSink):
    """foreachBatch sink maintaining per-batch HLL register partitions."""

    def __init__(
        self,
        registers_path: str,
        key_col: str = "user_id",
        compact_every: int = 16,
        fs: FSIO | None = None,
    ) -> None:
        super().__init__(registers_path, compact_every, fs)
        self.registers_path = registers_path
        self.key_col = key_col

    def _batch_registers(self, batch_df: DataFrame) -> DataFrame:
        h = portable_hash(F.col(self.key_col).cast("string"))
        return (
            batch_df.select(h.alias("h"))
            .select(
                F.expr(f"h % {HLL_M}").alias("bucket"),
                F.expr(
                    f"CASE WHEN shiftright(h, {HLL_P}) = 0 THEN {_HLL_RHO_CAP} "
                    f"ELSE length(bin(shiftright(h, {HLL_P}) & -shiftright(h, {HLL_P}))) END"
                ).alias("rho"),
            )
            .groupBy("bucket")
            .agg(F.max("rho").alias("m_j"))
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        self._resolve_fs(spark)
        self._write_batch(
            self._batch_registers(batch_df), self.registers_path, batch_id
        )
        if self._compact_due(batch_id):
            self._compact(spark, batch_id)

    def _compact(self, spark: SparkSession, current_batch_id: int) -> None:
        """Max-merge every register partition OLDER than the current batch
        into the oldest one (`compact_generation`)."""
        self._fold_older(
            spark,
            self.registers_path,
            current_batch_id,
            lambda df: df.groupBy("bucket").agg(F.max("m_j").alias("m_j")),
        )

    def registers(self, spark: SparkSession) -> DataFrame:
        """The merged (bucket, m_j) register table — 64 rows max."""
        return (
            spark.read.parquet(self.registers_path)
            .groupBy("bucket")
            .agg(F.max("m_j").alias("m_j"))
        )

    def estimate(self, spark: SparkSession) -> float:
        """Distinct-key estimate over everything streamed so far, by the
        exact estimator of the batch ops (the driver holds <= m rows)."""
        regs = {r.bucket: r.m_j for r in self.registers(spark).collect()}
        s = sum(1 << (_HLL_RHO_CAP - m) for m in regs.values())
        s += (HLL_M - len(regs)) * (1 << _HLL_RHO_CAP)
        v0 = HLL_M - len(regs)
        raw = HLL_ALPHA * HLL_M * HLL_M * float(1 << _HLL_RHO_CAP) / s
        if raw <= 2.5 * HLL_M and v0 > 0:
            return round(float(HLL_M) * math.log(float(HLL_M) / v0), 2)
        return round(raw, 2)


def distinct_sketch_sink(
    stream_df: DataFrame,
    registers_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    compact_every: int = 16,
) -> StreamingQuery:
    """Attach the register-maintaining sink to a stream of keyed rows."""
    sink = StreamingHllSketch(registers_path, key_col, compact_every)
    return (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )

"""Value-pin for the codebook trainer: `subspace_kmeans_fit` must
reproduce an INDEPENDENT numpy Lloyd implementation bit-for-bit.

This is the determinism contract that lets the DuckDB oracles RE-TRAIN the
same codebook inside plain SQL (`_train_ctes`): smallest-vec_id init,
first-min argmin ties, 6-dp rounding of every update, empty codewords keep
their previous value. If any of those knobs drifts, the PQ/ADC/IVF-PQ
oracle rows all hash-mismatch — this test localizes the break to the
trainer itself.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from emr_flink_example_spark.io import load
from emr_flink_example_spark.operators import similarity as S

from conftest import SF_DIR


def _np_subspace_lloyd(X, n_sub, sub_dim, k, iters):
    """Independent reference: per-subspace Lloyd, same determinism knobs."""
    cbs = []
    for m in range(n_sub):
        Xm = X[:, m * sub_dim:(m + 1) * sub_dim]
        C = Xm[:k].copy()
        for _ in range(iters):
            d2 = ((Xm[:, None, :] - C[None, :, :]) ** 2).sum(2)
            a = d2.argmin(1)  # numpy argmin = first minimum, like the fold
            newC = C.copy()
            for j in range(k):
                mask = a == j
                if mask.any():
                    newC[j] = np.round(Xm[mask].mean(0), 6)
            C = newC
        cbs.append(C)
    return np.concatenate(cbs, axis=1)  # K x DIM, codeword = concat over m


def _corpus(spark):
    rows = (
        load(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    return np.stack([np.array(r.embedding, dtype=float) for r in rows])


def test_trained_codebooks_match_numpy(spark):
    X = _corpus(spark)
    base = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    for (n_sub, sub_dim, k) in [
        (S.PQ_M, S.PQ_SUB_DIM, S.PQ_K),      # compression codebook
        (S.ADC_M, S.ADC_SUB, S.ADC_K),       # search-tier codebook
        (1, S.DIM, S.N_CENTROIDS),           # IVF coarse quantizer
    ]:
        got = np.array(S.subspace_kmeans_fit(base, n_sub, sub_dim, k))
        want = _np_subspace_lloyd(X, n_sub, sub_dim, k, S.PQ_TRAIN_ITERS)
        assert got.shape == want.shape
        assert np.array_equal(got, want), (n_sub, sub_dim, k)


def test_trained_codebook_empty_corpus(spark):
    base = (
        load(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .where("vec_id < 0")
    )
    assert S.subspace_kmeans_fit(base, S.PQ_M, S.PQ_SUB_DIM, S.PQ_K) == []


def test_arrow_codes_match_relational(spark):
    """The vectorized Arrow encode must be BIT-EQUAL to the relational
    `_encode_codes_sql` fold (same IEEE op sequence, first-min argmin) —
    this is what keeps the ADC oracles hash-green while the executed path
    is numpy."""
    from emr_flink_example_spark.operators.similarity import (
        ADC_M,
        ADC_SUB,
        _adc_codebook,
        _adc_codes_with_e,
        _encode_codes_sql,
    )

    arrow = {
        r.vec_id: list(r.codes)
        for r in _adc_codes_with_e(spark, SF_DIR).select("vec_id", "codes").collect()
    }
    emb = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    rel = {
        r.vec_id: list(r.codes)
        for r in emb.crossJoin(F.broadcast(_adc_codebook(spark, SF_DIR)))
        .select("vec_id", F.expr(_encode_codes_sql(ADC_M, ADC_SUB)).alias("codes"))
        .collect()
    }
    assert arrow == rel and len(arrow) > 0


def test_residual_arrow_codes_match_relational(spark):
    """Same bit-equality contract for the RESIDUAL tier: the Arrow kernel
    over residuals must reproduce the relational argmin fold exactly."""
    from emr_flink_example_spark.operators.similarity import (
        ADC_M,
        ADC_SUB,
        _codebook_df,
        _encode_codes_sql,
        _residual_codebook,
        _residual_codes,
        _residual_corpus,
    )

    arrow = {
        r.vec_id: list(r.codes)
        for r in _residual_codes(spark, SF_DIR).select("vec_id", "codes").collect()
    }
    cb = _codebook_df(spark, _residual_codebook(spark, SF_DIR))
    resid = _residual_corpus(spark, SF_DIR).select("vec_id", F.col("r").alias("e"))
    rel = {
        r.vec_id: list(r.codes)
        for r in resid.crossJoin(F.broadcast(cb))
        .select("vec_id", F.expr(_encode_codes_sql(ADC_M, ADC_SUB)).alias("codes"))
        .collect()
    }
    assert arrow == rel and len(arrow) > 0


def test_pq_codes_errs_kernel_matches_relational(spark):
    """r15: the quantize_pq Arrow encode (`_codes_errs_kernel`) must be
    BIT-EQUAL — codes AND per-subspace errs — to the relational
    `_pq_best_sql` getField fold it replaced (same IEEE accumulation
    order, first-min argmin); this is what keeps the quantize_pq oracle
    hash-green while the executed path is numpy."""
    cw = S.trained_codebook(spark, SF_DIR, S.PQ_M, S.PQ_SUB_DIM, S.PQ_K)
    emb = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    arrow = {
        r.vec_id: (list(r.codes), list(r.errs))
        for r in emb.mapInPandas(
            S._codes_errs_kernel(cw, S.PQ_M, S.PQ_SUB_DIM),
            "vec_id bigint, codes array<int>, errs array<double>",
        ).collect()
    }
    rel_cols = []
    for m in range(S.PQ_M):
        best = F.expr(S._pq_best_sql(m))
        rel_cols.append(best.getField("k").alias(f"k{m}"))
        rel_cols.append(best.getField("d2").alias(f"d{m}"))
    rel = {
        r.vec_id: (
            [r[f"k{m}"] for m in range(S.PQ_M)],
            [r[f"d{m}"] for m in range(S.PQ_M)],
        )
        for r in emb.crossJoin(F.broadcast(S._pq_codebook(spark, SF_DIR)))
        .select("vec_id", *rel_cols)
        .collect()
    }
    assert len(arrow) > 0 and arrow == rel


def test_assign_kernel_matches_ivf_assign_sql(spark):
    """r15: the in-kernel coarse assignment (`_assign_ids`, explicit
    element-order accumulation) must be BIT-EQUAL to the interpreted
    `_IVF_ASSIGN_SQL` fold it replaced — assignment ids AND the nrm the
    SemDeDup cosines divide by."""
    cents_cv = S.trained_codebook(spark, SF_DIR, 1, S.DIM, S.N_CENTROIDS)
    emb = (
        load(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .where(F.expr("exists(e, x -> x <> 0.0d)"))
    )
    arrow = {
        r.vec_id: (r.cluster_id, r.nrm)
        for r in emb.mapInPandas(
            S._assign_only_kernel(cents_cv),
            "vec_id bigint, e array<double>, nrm double, cluster_id bigint",
        ).collect()
    }
    cent_arr = S._ivf_centroids(spark, SF_DIR).agg(
        F.sort_array(
            F.collect_list(F.struct("centroid_id", "cv", "cvn"))
        ).alias("cents")
    )
    rel = {
        r.vec_id: (r.cid, r.nrm)
        for r in emb.withColumn("nrm", S._norm("e"))
        .crossJoin(F.broadcast(cent_arr))
        .select("vec_id", F.expr(S._IVF_ASSIGN_SQL).alias("cid"), "nrm")
        .collect()
    }
    assert len(arrow) > 0 and arrow == rel


def test_cents_tables_rejects_zero_norm_centroid():
    """A degenerate codebook with an all-zero centroid fails loudly: its
    cosine is NaN, which the SQL fold and `_assign_ids` rank differently."""
    S._cents_tables([[1.0, 0.0], [0.5, -0.5]])  # nonzero norms: accepted
    with pytest.raises(ValueError, match="centroids \\[1\\]"):
        S._cents_tables([[1.0, 0.0], [0.0, 0.0], [0.5, -0.5]])

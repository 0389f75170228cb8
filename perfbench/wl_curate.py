"""`curate_corpus`: the LLM-data pipeline over a seeded corpus with planted
duplicates — `api.curation_gates`, a write of the kept rows,
`api.dedup_corpus` over the whole corpus, then `api.ann_ivf_topk` (training
left to the call) over clustered embeddings.

One pass is the whole chain, and it runs once, as a batch curation job
does: after set-up, which builds the session SETUP_REPS times in one JVM
and reads the corpus once per build. The traced run makes the same pass,
then runs the calls the fused ones compose as separate probes."""

from __future__ import annotations

import sys
import time

from .common import Checks, Ctx, peak_rss_mb, scan_median, start_session, storage_mb
from .spans import noop_materialize

#: random base documents; planted low-quality docs, exact-copy groups and
#: near-duplicate clusters add about a quarter on top (see gen.corpus)
N_BASE_DOCS = 4200
N_VECTORS = 1000
N_QUERIES = 100
TOP_K = 10


def run(ctx: Ctx, checks: Checks) -> dict:
    from pyspark.sql import functions as F

    from emr_flink_example_spark import api, cache
    from emr_flink_example_spark.io import read_any
    from emr_flink_example_spark.operators.dedup import CC_EST_JACCARD
    from emr_flink_example_spark.operators.similarity import N_CENTROIDS, subspace_kmeans_fit

    from . import gen
    from .gen import EMB_DIM

    tr = ctx.tracer
    d = ctx.dir("inputs")
    truth = gen.write_curate_inputs(d, ctx.seed, N_BASE_DOCS, N_VECTORS, N_QUERIES)

    def prep(spark):
        read_any(spark, f"{d}/corpus.parquet", "parquet").count()

    start_session(ctx, prep)
    spark = ctx.spark
    docs = read_any(spark, f"{d}/corpus.parquet", "parquet")
    emb = read_any(spark, f"{d}/embeddings.parquet", "parquet")
    queries = read_any(spark, f"{d}/queries.parquet", "parquet")
    n_docs = truth["n_docs"]

    out = ctx.dir("curated")
    t0 = ctx.window[0] = time.perf_counter()
    with tr.span("curation", "curation_gates"):
        kept, stats, _ = api.curation_gates(docs)
        if tr.enabled:
            with tr.span("trace", "noop kept"):
                noop_materialize(kept)
    with tr.span("io", "write kept"):
        kept.write.mode("overwrite").partitionBy("lang").parquet(out)
    storage = storage_mb(spark)
    with tr.span("cache", "unpersist_all"):
        pinned = cache.unpersist_all(spark)
    with tr.span("dedup", "dedup_corpus"):
        survivors = api.dedup_corpus(docs).select("doc_id", "is_survivor").toPandas()
    t1 = time.perf_counter()
    with tr.span("similarity", "ann_ivf_topk"):
        ann = api.ann_ivf_topk(queries, emb, k=TOP_K).toPandas()
    t2 = ctx.window[1] = time.perf_counter()
    ctx.attempted = 4

    # --- output checks ----------------------------------------------------
    n_in, n_q, n_b, n_e, n_n = stats
    checks.check(n_in == n_docs, f"gates saw {n_in} docs, corpus has {n_docs}")
    checks.check(n_in >= n_q >= n_b >= n_e >= n_n, f"gate counts not monotone: {stats}")
    written = read_any(spark, out, "parquet").select("doc_id").toPandas()["doc_id"]
    checks.check(len(written) == n_n, f"wrote {len(written)} rows, gates kept {n_n}")
    kept_ids = set(written.tolist())
    checks.check(not kept_ids & set(truth["low_quality"]), "a low-quality doc was kept")
    checks.check(all(len(kept_ids & set(g)) <= 1 for g in truth["exact_groups"]),
                 "the gates kept two copies of one exact-copy group")
    surv = dict(zip(survivors["doc_id"].tolist(), survivors["is_survivor"].tolist()))
    checks.check(len(surv) == n_docs, f"dedup_corpus mapped {len(surv)} of {n_docs} docs")
    bad = [g for g in truth["exact_groups"] if sum(bool(surv.get(x)) for x in g) != 1]
    checks.check(not bad, f"{len(bad)} exact-copy groups without exactly one survivor")
    removed = planted = 0
    for c in truth["near_clusters"]:
        m = c["members"]
        removed += min(sum(1 for x in m if not surv.get(x, True)), len(m) - 1)
        planted += len(m) - 1
    near_recall = removed / planted
    hits, per_q = 0, ann.groupby("query_id")["neighbor_id"].apply(set).to_dict()
    for qid, top in truth["top10"].items():
        hits += len(per_q.get(int(qid), set()) & set(top))
    checks.check(set(per_q) <= {int(q) for q in truth["top10"]}, "ANN answered unknown queries")
    checks.check(bool((ann["nn_rank"] <= TOP_K).all()), "ANN returned more than k rows")
    ann_recall = hits / (TOP_K * len(truth["top10"]))

    scan_s, rows = scan_median(tr, "curated_scan", lambda: (
        read_any(spark, out, "parquet").groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum(F.length("text")).alias("chars"))
        .collect()))
    checks.check(sum(r["n"] for r in rows) == n_n, "scan of the curated output lost rows")

    # one pass, so its time is both the median and the tail
    metrics = {
        "throughput_per_s": n_docs / (t1 - t0),
        "latency_p50_s": t2 - t0,
        "latency_tail_s": t2 - t0,
        "scan_s": scan_s,
        "near_dup_recall": near_recall,
        "ann_recall_at_10": ann_recall,
        "peak_rss_mb": peak_rss_mb(),
    }
    print(f"curate: {n_docs} docs, pass {t2 - t0:.2f} s,"
          f" near-dup recall {near_recall:.4f}, ANN recall@10 {ann_recall:.4f}",
          file=sys.stderr)
    if not tr.enabled:
        return metrics

    # --- per-layer probes (traced run only) -------------------------------
    # The calls the fused ones above compose (`dedup_corpus` = pairs →
    # components → survivors; `ann_ivf_topk` = train → search), each run on
    # its own so its time can be read off a span; counted as tracing overhead.
    with tr.span("trace", "layer probes"):
        with tr.span("textstats", "text_quality"):
            noop_materialize(api.text_quality(docs))
        with tr.span("dedup", "minhash_signatures"):
            noop_materialize(api.minhash_signatures(docs))
        with tr.span("dedup", "near_duplicate_pairs"):
            cand = api.near_duplicate_pairs(docs).select(
                "doc_a", "doc_b", "est_jaccard").toPandas()
        pairs = spark.createDataFrame(
            cand[cand.est_jaccard >= CC_EST_JACCARD][["doc_a", "doc_b"]],
            "doc_a bigint, doc_b bigint")
        with tr.span("dedup", "connected_components"):
            comps = api.connected_components(pairs).toPandas()
        with tr.span("dedup", "dedup_survivors"):
            noop_materialize(api.dedup_survivors(
                docs, spark.createDataFrame(comps, "doc_id bigint, component_id bigint")))
        vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        with tr.span("similarity", "train"):
            codebook = subspace_kmeans_fit(vecs, 1, EMB_DIM, N_CENTROIDS)
        with tr.span("similarity", "search"):
            api.ann_ivf_topk(queries, emb, k=TOP_K, codebook=codebook).toPandas()

    group_of = {}
    for i, g in enumerate(truth["exact_groups"]):
        group_of.update({x: ("e", i) for x in g})
    for i, c in enumerate(truth["near_clusters"]):
        group_of.update({x: ("n", i) for x in c["members"]})
    true_pairs = sum(1 for a, b in zip(cand.doc_a, cand.doc_b)
                     if a in group_of and group_of[a] == group_of.get(b))
    spans = {s["name"]: s["end"] - s["start"] for s in tr.spans}
    probe = lambda n: spans.get(n, 0.0)  # noqa: E731
    metrics.update({
        "textstats.quality_s": probe("text_quality"),
        "curation.gates_s": probe("curation_gates") - probe("noop kept"),
        "curation.write_s": probe("write kept"),
        "curation.kept_docs": float(n_n),
        "dedup.signatures_s": probe("minhash_signatures"),
        "dedup.pairs_s": probe("near_duplicate_pairs"),
        "dedup.components_s": probe("connected_components"),
        "dedup.candidate_pairs": float(len(cand)),
        "dedup.candidate_precision": true_pairs / max(1, len(cand)),
        "similarity.train_s": probe("train"),
        "similarity.search_s": probe("search"),
        "similarity.queries_per_s": N_QUERIES / (t2 - t1),
        "cache.pinned_frames": float(pinned),
        "cache.storage_mb_peak": storage,
    })
    return metrics

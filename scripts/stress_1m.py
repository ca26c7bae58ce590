#!/usr/bin/env python
"""1M-doc (200x sf0.1) stress: store-published index -> one-job WAND.

Reproduces the BENCH.md stress numbers end to end THROUGH THE STORE — not
in-memory DataFrames: build a 1M-doc Zipf corpus, ingest it as a segment,
publish() (auto doc_span, first-char-partitioned blocks + doclen side
blocks on disk), then measure the published-file WAND path against the
exhaustive scorer.  Prints one JSON line.

Usage: PYTHONPATH=/root/repo python scripts/stress_1m.py [workdir]
"""

import json
import shutil
import sys
import time

from pyspark.sql import SparkSession, functions as F


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/elipdotter_stress_1m"
    shutil.rmtree(work, ignore_errors=True)

    from elipdotter_spark.operators import bm25, codec
    from elipdotter_spark.sources.catalog import IndexStore
    from elipdotter_spark.sources.corpus import zipf_corpus

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    docs = zipf_corpus(spark, n_docs=1_000_000, vocab_size=50_000, doc_len=60)
    store = IndexStore(spark, work)
    t0 = time.perf_counter()
    row = store.write_segment("seg-0000", docs)
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    info = store.publish()
    publish_s = time.perf_counter() - t0

    comp = spark.read.parquet(info["blocks_path"])
    dlb = spark.read.parquet(info["doclen_blocks_path"])
    postings = store.merged_postings()
    terms = spark.read.parquet(info["terms_path"])
    docstats = spark.read.parquet(info["docstats_path"])
    n, avgdl = bm25.corpus_stats(docstats)

    q = ["t1", "t800", "t30000"]
    want = [
        (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk(
            postings, docstats, terms, q, 10, n=n, avgdl=avgdl
        ).collect()
    ]
    # warm (python workers + codegen), then median of 3
    codec.bm25_topk_wand(comp, dlb, terms, q, 10, n, avgdl).collect()
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        got = [
            (r.doc_id, round(r.score, 9))
            for r in codec.bm25_topk_wand(
                comp, dlb, terms, q, 10, n, avgdl
            ).collect()
        ]
        ts.append(time.perf_counter() - t0)
        assert got == want, "published WAND != exhaustive"
    stats = (
        codec.bm25_topk_wand(comp, dlb, terms, q, 10, n, avgdl, with_stats=True)
        .withColumn("pid", F.spark_partition_id())
        .select("pid", "rng_scanned", "rng_total")
        .distinct()
        .collect()
    )
    plan = (
        codec.qterm_blocks(comp, q)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )

    # reference-rating scored path at 1M through the published store: an
    # OR query over two mid-rank zipf words — the realistic shape where
    # most root docs hold ONE occurrence of one word (rating upper bound
    # ~0: no session merge, no adjacency pair) while the few multi-
    # occurrence docs establish theta, so the topk() upper-bound prune
    # keeps the tail out of the kernel.  Also timed with prune=False for
    # the honest comparison.
    from elipdotter_spark.plans.compiler import QueryEngine

    eng = QueryEngine(spark, postings, terms, proximity_threshold=1.0, algo="exact")
    qs = "t800 or t3000"
    want_rows = {
        (r.doc_id, r.start, r.rating)
        for r in eng.topk(qs, 1000, 10, prune=False).collect()
    }
    eng.topk(qs, 1000, 10).collect()  # warm + adaptive probe
    scored_pruned, scored_full = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        got = {
            (r.doc_id, r.start, r.rating)
            for r in eng.topk(qs, 1000, 10).collect()
        }
        scored_pruned.append(time.perf_counter() - t0)
        assert got == want_rows, "pruned topk != unpruned at 1M"
        t0 = time.perf_counter()
        eng.topk(qs, 1000, 10, prune=False).collect()
        scored_full.append(time.perf_counter() - t0)
    st = {}
    eng.topk(qs, 1000, 10, stats_out=st).collect()

    # delta publish at 1M: a 1,000-doc update against the published store —
    # publish cost must be proportional to the DELTA, not the corpus
    upd = docs.filter(F.col("doc_id") < 1000).withColumn(
        "text", F.concat(F.lit("updated tnew "), F.col("text"))
    )
    store.write_segment("seg-update", upd)
    t0 = time.perf_counter()
    dinfo = store.publish_delta()
    delta_publish_s = time.perf_counter() - t0
    # round 5: the narrow tables are delta segments too — read resolved
    # (the base dirs alone are stale after a delta publish)
    terms2 = store.published_terms()
    ds2 = store.published_docstats()
    from elipdotter_spark.operators import bm25 as _bm25

    n2, avgdl2 = store.corpus_stats()
    n2a, avgdl2a = _bm25.corpus_stats(ds2)
    assert (n2, round(avgdl2, 9)) == (n2a, round(avgdl2a, 9)), "meta counters drifted"
    comp2, dlb2 = store.wand_tables(terms2, n2, avgdl2)
    want2 = [
        (r.doc_id, round(r.score, 9))
        for r in _bm25.bm25_topk(
            store.merged_postings(), ds2, terms2, q + ["tnew"], 10,
            n=n2, avgdl=avgdl2,
        ).collect()
    ]
    got2 = [
        (r.doc_id, round(r.score, 9))
        for r in codec.bm25_topk_wand(
            comp2, dlb2, terms2, q + ["tnew"], 10, n2, avgdl2
        ).collect()
    ]
    assert got2 == want2, "delta-published WAND != exhaustive"

    print(json.dumps({
        "n_docs": 1_000_000,
        "n_postings": row["n_postings"],
        "segment_build_sec": round(build_s, 2),
        "publish_sec": round(publish_s, 2),
        "doc_span": info["doc_span"],
        "wand_published_sec_median": round(sorted(ts)[1], 3),
        "ranges_scanned": sum(r.rng_scanned for r in stats),
        "ranges_total": sum(r.rng_total for r in stats),
        "partition_filtered_scan": "PartitionFilters" in plan,
        "exact_vs_exhaustive": True,
        "scored_hits_query": qs,
        "scored_hits_pruned_sec_median": round(sorted(scored_pruned)[1], 3),
        "scored_hits_full_sec_median": round(sorted(scored_full)[1], 3),
        "scored_hits_prune": {
            k: st.get(k)
            for k in ("root_docs", "kernel_docs", "theta", "pruned", "futile")
        },
        "scored_hits_pruned_equals_full": True,
        "delta_publish": {
            "updated_docs": 1000,
            "segment": dinfo["delta"],
            "publish_delta_sec": round(delta_publish_s, 2),
            "full_publish_sec": round(publish_s, 2),
            "wand_after_delta_exact": True,
        },
    }))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

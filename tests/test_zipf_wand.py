"""Block-max pruning effectiveness on a realistically skewed (Zipf) corpus."""

import pytest
from pyspark.sql import functions as F

from elipdotter_spark.operators import bm25, codec, index_build
from elipdotter_spark.sources.corpus import zipf_corpus


@pytest.fixture(scope="module")
def zipf_index(spark):
    docs = zipf_corpus(spark, n_docs=3000, vocab_size=2000, doc_len=60).cache()
    postings = index_build.build_postings(docs).cache()
    terms = index_build.build_terms(postings).cache()
    docstats = index_build.docstats_from_postings(postings).cache()
    n, avgdl = bm25.corpus_stats(docstats)
    return docs, postings, terms, docstats, n, avgdl


@pytest.mark.spark
def test_zipf_skew_present(zipf_index):
    _docs, _postings, terms, _ds, _n, _a = zipf_index
    stats = terms.agg(
        F.max("df").alias("mx"), F.avg("df").alias("mean"), F.count("*").alias("v")
    ).collect()[0]
    # hot head: the most frequent term should dwarf the mean
    assert stats.mx / stats.mean > 10, (stats.mx, stats.mean)
    assert stats.v > 500


@pytest.mark.spark
def test_codec_compression_ratio_on_zipf(zipf_index):
    _docs, postings, terms, docstats, n, avgdl = zipf_index
    comp = codec.build_compressed(postings, docstats, terms, n, avgdl, doc_span=128)
    rows = comp.collect()
    packed = sum(len(r.doc_deltas) + len(r.tfs) for r in rows)
    plain = postings.count() * 12  # 8B doc_id + 4B tf
    ratio = plain / packed
    assert ratio > 2.5, ratio


@pytest.mark.spark
def test_one_job_partitioned_wand_exact_and_prunes(spark, zipf_index):
    """Single-job WAND (per-partition local theta, zero driver round-trips)
    must equal exhaustive top-k and skip ranges."""
    _docs, postings, terms, docstats, n, avgdl = zipf_index
    qterms = ["t1", "t800", "t1500"]
    want = [
        (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk(postings, docstats, terms, qterms, 10, n=n, avgdl=avgdl).collect()
    ]
    comp = codec.build_compressed(postings, docstats, terms, n, avgdl, doc_span=64).cache()
    dlb = codec.build_doclen_blocks(docstats, doc_span=64).cache()

    got_df = codec.bm25_topk_wand(comp, dlb, terms, qterms, 10, n, avgdl)
    got = [(r.doc_id, round(r.score, 9)) for r in got_df.collect()]
    assert got == want

    stats = codec.bm25_topk_wand(comp, dlb, terms, qterms, 10, n, avgdl, with_stats=True)
    # distinct per PARTITION (two partitions with identical counters must
    # both count): tag rows with their physical partition id first
    rows = (
        stats.withColumn("pid", F.spark_partition_id())
        .select("pid", "rng_scanned", "rng_total")
        .distinct()
        .collect()
    )
    scanned = sum(r.rng_scanned for r in rows)
    total = sum(r.rng_total for r in rows)
    assert total > scanned, (scanned, total)  # local thetas actually skip
    # exactly one job shape: no collect happens before the action above —
    # assert the plan contains the mapInPandas scan and a TakeOrdered
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "TakeOrderedAndProject" in plan

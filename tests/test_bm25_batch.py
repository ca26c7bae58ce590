"""Batched BM25: whole query set in one plan, equal to per-query results.

The batch operators amortize the posting scan across a query set (the
evaluation-harness / query-log workload); these tests pin:
- exhaustive batch == per-query bm25_topk, doc-for-doc, score-for-score;
- block-max batch prune == exhaustive batch (the per-query theta derived
  inside the plan is sound), incl. tiny probes that leave some queries
  with theta = -inf (prune-futile -> exhaustive fallback per query);
- the query-table joins are broadcasts (no shuffle on the fan-out side);
- string query ids work.
"""

import pytest
from pyspark.sql import functions as F

from elipdotter_spark.operators import bm25, codec, index_build

QUERIES = {
    1: ["spark", "fast"],
    2: ["table", "value"],
    3: ["vector"],
    4: ["spark", "table", "vector"],
    5: ["nosuchtermanywhere"],
}
K = 10


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = index_build.build_postings(docs).cache()
    terms = index_build.build_terms(postings).cache()
    docstats = index_build.docstats_from_postings(postings).cache()
    n, avgdl = bm25.corpus_stats(docstats)
    return postings, terms, docstats, n, avgdl


def _per_query_want(postings, docstats, terms, n, avgdl):
    want = {}
    for qid, qterms in QUERIES.items():
        rows = bm25.bm25_topk(
            postings, docstats, terms, qterms, K, n=n, avgdl=avgdl
        ).collect()
        want[qid] = [(r.doc_id, round(r.score, 9)) for r in rows]
    return want


@pytest.mark.spark
def test_batch_equals_per_query(spark, index):
    postings, terms, docstats, n, avgdl = index
    want = _per_query_want(postings, docstats, terms, n, avgdl)
    got_rows = bm25.bm25_topk_batch(
        postings, docstats, terms, QUERIES, K, n=n, avgdl=avgdl
    ).collect()
    got = {qid: [] for qid in QUERIES}
    for r in sorted(got_rows, key=lambda r: (r.query_id, r.rnk)):
        got[r.query_id].append((r.doc_id, round(r.score, 9)))
    assert got == want
    # ranks are 1..len per query
    for qid in QUERIES:
        ranks = sorted(r.rnk for r in got_rows if r.query_id == qid)
        assert ranks == list(range(1, len(got[qid]) + 1))


@pytest.mark.spark
def test_blockmax_batch_equals_exhaustive(spark, index):
    postings, terms, docstats, n, avgdl = index
    # span 16: ~4x the ranges of the span-64 table tested below, so more
    # (query, block) pairs for the prune to skip
    bm = codec.build_compressed(
        postings, docstats, terms, n, avgdl, doc_span=16
    ).select("term", "block", "block_max")
    want = {
        (r.query_id, r.rnk): (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk_batch(
            postings, docstats, terms, QUERIES, K, n=n, avgdl=avgdl
        ).collect()
    }
    # probe_blocks=2 is deliberately tiny: some queries get a sound theta,
    # others (fewer than K docs in 2 blocks) fall back to theta=-inf and
    # must still come out exhaustive-exact
    got = {
        (r.query_id, r.rnk): (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk_blockmax_batch(
            postings, docstats, terms, bm, QUERIES, K, n, avgdl,
            block_size=16, probe_blocks=2,
        ).collect()
    }
    assert got == want


@pytest.mark.spark
def test_batch_plan_broadcasts_query_table(spark, index):
    postings, terms, docstats, n, avgdl = index
    plan = (
        bm25.bm25_topk_batch(
            postings, docstats, terms, QUERIES, K, n=n, avgdl=avgdl
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # the posting scan is term-pruned BEFORE the fan-out: the isin filter
    # must appear in the plan (pushed to the scan on a parquet source)
    assert "nosuchtermanywhere" in plan


@pytest.mark.spark
def test_batch_string_query_ids(spark, index):
    postings, terms, docstats, n, avgdl = index
    got = bm25.bm25_topk_batch(
        postings, docstats, terms, {"a": ["spark"], "b": ["table"]}, 3,
        n=n, avgdl=avgdl,
    ).collect()
    assert {r.query_id for r in got} == {"a", "b"}
    want = [
        (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk(
            postings, docstats, terms, ["spark"], 3, n=n, avgdl=avgdl
        ).collect()
    ]
    got_a = [
        (r.doc_id, round(r.score, 9))
        for r in sorted(got, key=lambda r: r.rnk)
        if r.query_id == "a"
    ]
    assert got_a == want


@pytest.mark.spark
def test_blockmax_batch_over_compressed_block_stats(spark, index):
    """The published compressed block table (codec.build_compressed) carries
    (term, block, block_max) with the SAME range key the batch prune uses —
    so a published store feeds bm25_topk_blockmax_batch directly, no
    separate block_max build.  Prune == exhaustive through that path."""
    postings, terms, docstats, n, avgdl = index
    span = 64
    comp = codec.build_compressed(
        postings, docstats, terms, n, avgdl, doc_span=span
    ).cache()
    comp.count()
    bm = comp.select("term", "block", "block_max")
    want = {
        (r.query_id, r.rnk): (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk_batch(
            postings, docstats, terms, QUERIES, K, n=n, avgdl=avgdl
        ).collect()
    }
    got = {
        (r.query_id, r.rnk): (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk_blockmax_batch(
            postings, docstats, terms, bm, QUERIES, K, n, avgdl,
            block_size=span, probe_blocks=2,
        ).collect()
    }
    assert got == want
    comp.unpersist()

"""Hashed (sparse, SIGNED) doc ids through the compressed codec + WAND.

Round-2 latent bug (VERDICT What's-wrong #1): posting blocks computed the
range key with Python floor division while doclen blocks used a
truncate-toward-zero cast — for negative xxhash64 ids
(``index_build.docmap_hashed``, the documented web-scale id scheme, SURVEY
H1) the two disagreed (-5//16 = -1 vs cast(-0.3125) = 0) and
``bm25_topk_wand`` KeyError'd on the doc-length lookup.  Both sides now
share ``codec.range_expr`` (exact integer floor division), and the range
width for sparse ids comes from ``codec.doc_span_for_sparse`` /
``IndexStore._auto_doc_span`` (high-bit bucketing: ~target docs per range
instead of the degenerate ~1 doc per range that ``id // 1024`` gives).
"""

import pytest
from pyspark.sql import functions as F

from elipdotter_spark.operators import bm25, codec, index_build
from elipdotter_spark.sources.catalog import IndexStore
from elipdotter_spark.sources.corpus import zipf_corpus

QTERMS = ["t1", "t80", "t300"]


@pytest.fixture(scope="module")
def hashed_index(spark):
    # zipf text re-keyed with signed sparse xxhash64 ids (the web-scale id
    # scheme): ~half the ids are negative, spread covers the full int64 range
    base = zipf_corpus(spark, n_docs=400, vocab_size=500, doc_len=40)
    docs = base.select(
        F.xxhash64(F.concat(F.lit("url-"), F.col("doc_id"))).alias("doc_id"),
        "text",
    ).cache()
    postings = index_build.build_postings(docs).cache()
    terms = index_build.build_terms(postings).cache()
    docstats = index_build.docstats_from_postings(postings).cache()
    n, avgdl = bm25.corpus_stats(docstats)
    return docs, postings, terms, docstats, n, avgdl


@pytest.mark.spark
def test_range_expr_matches_python_floor(spark):
    vals = [-17, -16, -15, -5, -1, 0, 1, 15, 16, 17,
            2**62, -(2**62), 2**63 - 1, -(2**63) + 1]
    df = spark.createDataFrame([(v,) for v in vals], "doc_id long")
    for span in (16, 1024, 2**62):
        got = {
            r.doc_id: r.rng
            for r in df.select(
                "doc_id", codec.range_expr(span).alias("rng")
            ).collect()
        }
        assert got == {v: v // span for v in vals}, span


def test_doc_span_for_sparse_buckets():
    # ~16 docs per range over the full 64-bit space
    span = codec.doc_span_for_sparse(400, docs_per_range=16)
    assert span == (2**64 * 16) // 400
    # tiny corpora cap at 2^62 (4 ranges over the signed space)
    assert codec.doc_span_for_sparse(3, docs_per_range=1024) == 2**62
    assert codec.doc_span_for_sparse(10**12) == (2**64 * 1024) // 10**12


@pytest.mark.spark
def test_hashed_ids_are_signed_and_sparse(hashed_index):
    docs = hashed_index[0]
    row = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    assert row.lo < 0 < row.hi
    assert row.hi - row.lo > 2**60  # genuinely sparse


@pytest.mark.spark
def test_wand_on_hashed_ids_equals_exhaustive(spark, hashed_index):
    """The round-2 repro: negative/sparse ids through compressed blocks +
    doclen side blocks -> one-job WAND must equal exhaustive BM25 top-k."""
    _docs, postings, terms, docstats, n, avgdl = hashed_index
    want = [
        (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk(
            postings, docstats, terms, QTERMS, 10, n=n, avgdl=avgdl
        ).collect()
    ]
    span = codec.doc_span_for_sparse(400, docs_per_range=16)
    comp = codec.build_compressed(
        postings, docstats, terms, n, avgdl, doc_span=span
    ).cache()
    dlb = codec.build_doclen_blocks(docstats, doc_span=span).cache()

    # posting blocks and doclen blocks must land in the SAME ranges
    p_rngs = {r.block for r in comp.select("block").distinct().collect()}
    d_rngs = {r.block for r in dlb.select("block").distinct().collect()}
    assert p_rngs <= d_rngs
    assert any(r < 0 for r in d_rngs)  # negative ids -> negative ranges
    assert len(d_rngs) > 5  # high-bit bucketing, not one giant range

    got_df = codec.bm25_topk_wand(comp, dlb, terms, QTERMS, 10, n, avgdl)
    got = [(r.doc_id, round(r.score, 9)) for r in got_df.collect()]
    assert got == want


@pytest.mark.spark
def test_mismatched_doc_span_raises_clearly(hashed_index):
    """Blocks built with different spans must fail loudly (ADVICE r2), not
    KeyError or silently mis-score."""
    _docs, postings, terms, docstats, n, avgdl = hashed_index
    span = codec.doc_span_for_sparse(400, docs_per_range=16)
    comp = codec.build_compressed(
        postings, docstats, terms, n, avgdl, doc_span=span
    )
    dlb_wrong = codec.build_doclen_blocks(docstats, doc_span=span // 2)
    with pytest.raises(Exception, match="doc_span"):
        codec.bm25_topk_wand(comp, dlb_wrong, terms, QTERMS, 10, n, avgdl).collect()


@pytest.mark.spark
def test_store_publish_to_wand_on_hashed_ids(spark, tmp_path_factory):
    """End-to-end: docmap_hashed ids -> segmented store -> publish (auto
    doc_span picks the sparse bucketing) -> read published blocks -> WAND
    == exhaustive.  This is the exact flow the round-2 verdict said would
    crash."""
    base = tmp_path_factory.mktemp("hashed_store")
    texts = zipf_corpus(spark, n_docs=300, vocab_size=400, doc_len=30)
    named = texts.select(
        F.concat(F.lit("https://example.test/doc/"), F.col("doc_id")).alias("url"),
        "text",
    )
    mapped = index_build.docmap_hashed(named)
    assert index_build.docmap_collisions(mapped) == 0
    docs = named.join(mapped, "url").select("doc_id", "text")

    store = IndexStore(spark, str(base))
    store.build_resumable(docs, n_segments=3)
    info = store.publish()
    assert info["doc_span"] > 2**40  # sparse-id bucketing, not 1024

    comp = spark.read.parquet(info["blocks_path"])
    dlb = spark.read.parquet(info["doclen_blocks_path"])
    postings = store.merged_postings()
    terms = spark.read.parquet(info["terms_path"])
    docstats = spark.read.parquet(info["docstats_path"])
    n, avgdl = bm25.corpus_stats(docstats)

    want = [
        (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk(
            postings, docstats, terms, QTERMS, 10, n=n, avgdl=avgdl
        ).collect()
    ]
    got = [
        (r.doc_id, round(r.score, 9))
        for r in codec.bm25_topk_wand(
            comp, dlb, terms, QTERMS, 10, n, avgdl
        ).collect()
    ]
    assert got == want


@pytest.mark.spark
def test_published_blocks_first_char_pruned(spark, tmp_path_factory):
    """publish() writes the block table first-char partitioned; the WAND
    query scan must show PartitionFilters on the query terms' first chars
    and stay exact."""
    base = tmp_path_factory.mktemp("blk_layout")
    docs = zipf_corpus(spark, n_docs=300, vocab_size=400, doc_len=30)
    store = IndexStore(spark, str(base))
    store.write_segment("seg-0000", docs)
    info = store.publish()

    comp = spark.read.parquet(info["blocks_path"])
    assert "first" in comp.columns
    dlb = spark.read.parquet(info["doclen_blocks_path"])
    postings = store.merged_postings()
    terms = spark.read.parquet(info["terms_path"])
    docstats = spark.read.parquet(info["docstats_path"])
    n, avgdl = bm25.corpus_stats(docstats)

    want = [
        (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk(
            postings, docstats, terms, QTERMS, 10, n=n, avgdl=avgdl
        ).collect()
    ]
    got_df = codec.bm25_topk_wand(comp, dlb, terms, QTERMS, 10, n, avgdl)
    got = [(r.doc_id, round(r.score, 9)) for r in got_df.collect()]
    assert got == want

    plan = (
        codec.qterm_blocks(comp, QTERMS)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1][:300]
    assert "first" in seg, seg


def test_block_roundtrip_signed_property():
    """encode/decode roundtrip over ARBITRARY signed int64 id sets (sorted
    unique) — the delta encoding survives even full-range spreads because
    two's-complement wrap in diff/cumsum cancels exactly; tf payloads
    roundtrip alongside."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-(2**63) + 1, max_value=2**63 - 1),
            min_size=1, max_size=64, unique=True,
        ),
        st.data(),
    )
    def roundtrip(ids, data):
        ids = sorted(ids)
        tfs = data.draw(
            st.lists(st.integers(min_value=1, max_value=2**31),
                     min_size=len(ids), max_size=len(ids))
        )
        first, dd, tb = codec.encode_block(ids, tfs)
        out_ids, out_tfs = codec.decode_block(first, dd, tb, len(ids))
        assert out_ids.tolist() == ids
        assert out_tfs.tolist() == tfs

    roundtrip()


@pytest.mark.spark
def test_range_expr_matches_python_floor_randomized(spark):
    """range_expr == Python // over a seeded random spread of signed int64
    ids and spans (one Spark job per span; extends the fixed edge-case list
    in test_range_expr_matches_python_floor with bulk random coverage)."""
    import random

    rng = random.Random(1234)
    vals = sorted(
        {rng.randint(-(2**63) + 1, 2**63 - 1) for _ in range(200)}
        | {rng.randint(-(2**20), 2**20) for _ in range(100)}
    )
    df = spark.createDataFrame([(v,) for v in vals], "doc_id long")
    for span in (7, 1024, rng.randint(2, 2**40), 2**62):
        got = {
            r.doc_id: r.rng
            for r in df.select(
                "doc_id", codec.range_expr(span).alias("rng")
            ).collect()
        }
        assert got == {v: v // span for v in vals}, span

"""Compressed posting codec: varint/block round-trips, size, and WAND over
the compressed blocks vs exhaustive BM25."""

import numpy as np
import pytest

from elipdotter_spark.operators import bm25, codec, index_build
from elipdotter_spark.operators.codec import (
    decode_block,
    encode_block,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip():
    rng = np.random.default_rng(7)
    for _ in range(20):
        vals = rng.integers(0, 2**40, size=rng.integers(0, 200))
        buf = varint_encode(vals)
        out = varint_decode(buf, len(vals))
        assert (out == vals.astype(np.uint64)).all()


def test_block_roundtrip():
    ids = [5, 9, 9 + 127, 1000, 2**33]
    tfs = [1, 2, 3, 4, 5]
    first, dd, tb = encode_block(ids, tfs)
    out_ids, out_tfs = decode_block(first, dd, tb, len(ids))
    assert out_ids.tolist() == ids
    assert out_tfs.tolist() == tfs


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = index_build.build_postings(docs).cache()
    terms = index_build.build_terms(postings).cache()
    docstats = index_build.docstats_from_postings(postings).cache()
    n, avgdl = bm25.corpus_stats(docstats)
    return postings, terms, docstats, n, avgdl


QTERMS = ["spark", "fast", "table"]


@pytest.mark.spark
def test_compressed_topk_equals_bruteforce(spark, index):
    """Block-max WAND over the compressed blocks == exhaustive top-k for a
    three-term query on the documents fixture."""
    postings, terms, docstats, n, avgdl = index
    comp = codec.build_compressed(
        postings, docstats, terms, n, avgdl, doc_span=64
    ).cache()
    dlb = codec.build_doclen_blocks(docstats, doc_span=64).cache()
    top = codec.bm25_topk_wand(comp, dlb, terms, QTERMS, 10, n, avgdl)
    brute = bm25.bm25_topk(postings, docstats, terms, QTERMS, 10, n=n, avgdl=avgdl)
    want = [(r.doc_id, round(r.score, 9)) for r in brute.collect()]
    got = [(r.doc_id, round(r.score, 9)) for r in top.collect()]
    assert got == want
    comp.unpersist()
    dlb.unpersist()


@pytest.mark.spark
def test_compressed_smaller_than_plain(spark, index):
    postings, terms, docstats, n, avgdl = index
    comp = codec.build_compressed(postings, docstats, terms, n, avgdl)
    rows = comp.collect()
    packed = sum(len(r.doc_deltas) + len(r.tfs) + 16 for r in rows)
    plain = postings.count() * (8 + 4)  # doc_id + tf uncompressed
    assert packed < plain, (packed, plain)


def test_varint_roundtrip_property():
    """Property: encode->decode is the identity for any uint64 array
    (vectorized decoder vs byte-exact LEB128)."""
    from hypothesis import given, settings, strategies as st

    from elipdotter_spark.operators.codec import varint_decode, varint_encode

    @given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
    @settings(max_examples=200, deadline=None)
    def check(vals):
        import numpy as np

        buf = varint_encode(np.asarray(vals, dtype=np.uint64))
        out = varint_decode(buf, len(vals))
        assert out.tolist() == vals

    check()


def test_varint_decode_rejects_wrong_count():
    import numpy as np
    import pytest as _pytest

    from elipdotter_spark.operators.codec import varint_decode, varint_encode

    buf = varint_encode(np.asarray([1, 2, 3], dtype=np.uint64))
    with _pytest.raises(ValueError):
        varint_decode(buf, 2)

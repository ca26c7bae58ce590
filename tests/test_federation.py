"""Federated sharded-store retrieval (operators/federation.py).

Contract under test: with disjoint doc ids, federated BM25 over K shards
equals the single whole-corpus store — exhaustive as ONE unioned plan,
WAND as per-shard scatter-gather under global stats merged to k.  Scores
compared at the round-6 discipline (weighted-mean avgdl differs from the
flat mean in the last ulps only).
"""

import json

import pytest
from pyspark.sql import functions as F

from elipdotter_spark.operators import bm25, federation
from elipdotter_spark.sources.catalog import IndexStore


@pytest.fixture()
def cli(spark, monkeypatch):
    import elipdotter_spark.cli as cli_mod

    monkeypatch.setattr(cli_mod, "get_spark", lambda: spark)
    return cli_mod


def _corpus(spark):
    # heterogeneous doc lengths + skewed df so idf/avgdl actually matter
    rows = []
    for i in range(120):
        toks = ["alpha"] * (1 + i % 3) + ["beta"] * (i % 7 == 0) + (
            ["filler%d" % (i % 11)] * (i % 5)
        )
        if i % 13 == 0:
            toks.append("gamma")
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _store(spark, tmp_path, name, docs, publish=True):
    st = IndexStore(spark, str(tmp_path / name))
    st.write_segment("seg-0", docs)
    if publish:
        st.publish(doc_span=16)
    return st


def _scores(df):
    return {r.doc_id: round(float(r.score), 6) for r in df.collect()}


@pytest.mark.spark
def test_federated_equals_whole_store(spark, tmp_path):
    docs = _corpus(spark)
    whole = _store(spark, tmp_path, "whole", docs)
    a = _store(spark, tmp_path, "a", docs.filter("doc_id % 2 = 0"))
    b = _store(spark, tmp_path, "b", docs.filter("doc_id % 2 = 1"))

    q = ["alpha", "beta", "gamma"]
    snap = whole.snapshot()
    n, avgdl = snap.corpus_stats()
    want = _scores(
        bm25.bm25_topk(
            whole.merged_postings(), snap.published_docstats(),
            snap.published_terms(), q, 15, n=n, avgdl=avgdl,
        )
    )
    got = _scores(federation.bm25_topk_federated([a, b], q, 15))
    assert got == want

    got_wand = _scores(federation.bm25_topk_wand_federated([a, b], q, 15))
    assert got_wand == want


@pytest.mark.spark
def test_federated_stale_shard_fallback(spark, tmp_path):
    docs = _corpus(spark)
    a = _store(spark, tmp_path, "fa", docs.filter("doc_id < 60"))
    # shard b never published: live-derivation fallback inside federation
    b = _store(spark, tmp_path, "fb", docs.filter("doc_id >= 60"),
               publish=False)
    whole = _store(spark, tmp_path, "fw", docs)
    q = ["alpha", "gamma"]
    snap = whole.snapshot()
    n, avgdl = snap.corpus_stats()
    want = _scores(
        bm25.bm25_topk(
            whole.merged_postings(), snap.published_docstats(),
            snap.published_terms(), q, 10, n=n, avgdl=avgdl,
        )
    )
    got = _scores(federation.bm25_topk_federated([a, b], q, 10))
    assert got == want


@pytest.mark.spark
def test_cli_federated_bm25(cli, spark, tmp_path, capsys):
    docs = _corpus(spark)
    din = str(tmp_path / "docs")
    docs.write.parquet(din)
    for name, flt in (("s1", "doc_id % 2 = 0"), ("s2", "doc_id % 2 = 1"),
                      ("sw", "doc_id >= 0")):
        dpath = str(tmp_path / ("in_" + name))
        docs.filter(flt).write.parquet(dpath)
        assert cli.main(["build", "--input", dpath,
                         "--output", str(tmp_path / name),
                         "--segments", "1"]) == 0
    capsys.readouterr()

    def run(index, extra=()):
        assert cli.main(["bm25", "--index", index, "--terms",
                         "alpha,beta", "--k", "10", *extra]) == 0
        return [json.loads(l) for l in capsys.readouterr().out.splitlines()
                if l.startswith("{")]

    fed = run(f"{tmp_path}/s1,{tmp_path}/s2")
    single = run(f"{tmp_path}/sw")
    assert [(r["doc_id"], round(r["score"], 6)) for r in fed] == [
        (r["doc_id"], round(r["score"], 6)) for r in single
    ]
    fed_w = run(f"{tmp_path}/s1,{tmp_path}/s2", ("--wand",))
    assert [(r["doc_id"], round(r["score"], 6)) for r in fed_w] == [
        (r["doc_id"], round(r["score"], 6)) for r in single
    ]


@pytest.mark.spark
def test_cli_federated_scored_query(cli, spark, tmp_path, capsys):
    """Reference-rating scored queries federate too: one engine over the
    unioned shard tables == the whole-corpus store, row for row."""
    docs = _corpus(spark)
    for name, flt in (("q1", "doc_id % 2 = 0"), ("q2", "doc_id % 2 = 1"),
                      ("qw", "doc_id >= 0")):
        dpath = str(tmp_path / ("in_" + name))
        docs.filter(flt).write.parquet(dpath)
        assert cli.main(["build", "--input", dpath,
                         "--output", str(tmp_path / name),
                         "--segments", "1"]) == 0
    capsys.readouterr()

    def run(index):
        assert cli.main(["query", "--index", index, "--query",
                         "alpha gamma -beta", "--k", "10",
                         "--algo", "exact"]) == 0
        return [json.loads(l) for l in capsys.readouterr().out.splitlines()
                if l.startswith("{")]

    fed = run(f"{tmp_path}/q1,{tmp_path}/q2")
    single = run(f"{tmp_path}/qw")
    assert fed == single and len(fed) > 0


@pytest.mark.spark
def test_federated_wand_blocks_stale_shard_falls_back(spark, tmp_path):
    """ADVICE r6 (medium): a shard with segments ingested AFTER its publish
    has stale BLOCK tables — wand_tables resolves only the published
    blocks, so the round-6 federated WAND silently dropped the shard's
    unpublished docs from the top-k.  The shard must now be scored
    exhaustively under the same global stats, keeping the merged ranking
    complete (== the whole-corpus exhaustive answer)."""
    docs = _corpus(spark)
    a = _store(spark, tmp_path, "wa", docs.filter("doc_id % 2 = 0"))
    b = _store(spark, tmp_path, "wb", docs.filter("doc_id % 2 = 1"))
    # ingest an extra segment into b AFTER its publish: blocks now stale,
    # and the new docs (gamma-rich) MUST appear in the federated top-k
    extra = spark.createDataFrame(
        [(1001, "gamma gamma gamma alpha"), (1003, "gamma gamma beta")],
        "doc_id long, text string",
    )
    b.write_segment("seg-extra", extra)
    assert b.snapshot().blocks_stale
    whole = _store(spark, tmp_path, "ww", docs.unionByName(extra))

    q = ["alpha", "gamma"]
    snap = whole.snapshot()
    n, avgdl = snap.corpus_stats()
    want = _scores(
        bm25.bm25_topk(
            whole.merged_postings(), snap.published_docstats(),
            snap.published_terms(), q, 10, n=n, avgdl=avgdl,
        )
    )
    got = _scores(federation.bm25_topk_wand_federated([a, b], q, 10))
    assert got == want
    assert 1001 in got  # the unpublished doc made it into the top-k


@pytest.mark.spark
def test_federated_allow_stale_guard(spark, tmp_path):
    """allow_stale=False refuses a never-published shard instead of
    silently running the full-postings live fallback (VERDICT r6 #3)."""
    docs = _corpus(spark)
    a = _store(spark, tmp_path, "ga", docs.filter("doc_id < 60"))
    b = _store(spark, tmp_path, "gb", docs.filter("doc_id >= 60"),
               publish=False)
    with pytest.raises(ValueError, match="stale"):
        federation.bm25_topk_federated(
            [a, b], ["alpha"], 5, allow_stale=False
        )
    # default keeps the (now logged) live fallback working
    assert len(federation.bm25_topk_federated([a, b], ["alpha"], 5).collect()) == 5


@pytest.mark.spark
def test_federated_wand_tie_order_across_scoring_paths(spark, tmp_path):
    """Identical docs in a fresh shard (numpy WAND kernel) and a blocks-
    stale shard (Spark sum) score equal only up to the last ulps.  The
    merged top-k orders on the rounded score, so the k boundary cuts the
    tie group by doc_id, not by which path accumulated each score."""
    docs = _corpus(spark)
    # tfs chosen so the two paths' sums differ in the last ulp (kernel:
    # (idf*tf)*(k1+1), Spark: idf*(tf*(k1+1))) while rounding equal
    tie = "alpha " + "beta " * 5 + "gamma " * 3 + "filler1"

    def tied(ids):
        return spark.createDataFrame(
            [(i, tie) for i in ids], "doc_id long, text string"
        )

    a = _store(spark, tmp_path, "ta",
               docs.filter("doc_id % 2 = 0").unionByName(tied([1000, 1003])))
    b = _store(spark, tmp_path, "tb", docs.filter("doc_id % 2 = 1"))
    b.write_segment("seg-tie", tied([1001, 1002]))
    assert b.snapshot().blocks_stale and not a.snapshot().blocks_stale

    got = federation.bm25_topk_wand_federated(
        [a, b], ["alpha", "beta", "gamma"], 3
    ).collect()
    assert [r.doc_id for r in got] == [1000, 1001, 1002]
    assert len({round(r.score, 6) for r in got}) == 1

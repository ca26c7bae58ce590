"""In-process CLI drives — the spark-submit surface, pinned in pytest.

Mirrors the verify recipe's CLI known-goods (sf0.001): build -> query
(exact top hit doc 217, rating ~16.3464) -> bm25 default == --wand ->
dedup pipeline summary.  get_spark is monkeypatched to the session fixture
so no new JVM is spawned per subcommand.
"""

import json

import pytest


@pytest.fixture()
def cli(spark, monkeypatch):
    import elipdotter_spark.cli as cli_mod

    monkeypatch.setattr(cli_mod, "get_spark", lambda: spark)
    return cli_mod


def _json_lines(capsys):
    return [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
        if line.startswith("{")
    ]


@pytest.mark.spark
def test_cli_build_query_bm25(cli, tmp_path, sf_dir, capsys):
    idx = str(tmp_path / "idx")
    assert cli.main([
        "build", "--input", f"{sf_dir}/documents.parquet",
        "--output", idx, "--segments", "2",
    ]) == 0
    info = _json_lines(capsys)[-1]
    assert info["built_segments"] == 2
    assert info["max_seq"] == 1 and info["doc_span"] > 0

    assert cli.main([
        "query", "--index", idx, "--query", "table value -vector",
        "--k", "3", "--algo", "exact",
    ]) == 0
    rows = _json_lines(capsys)
    assert rows[0]["doc_id"] == 217  # verify-recipe known-good at sf0.001
    assert abs(rows[0]["rating"] - 16.3464) < 0.001

    assert cli.main([
        "bm25", "--index", idx, "--terms", "table,value", "--k", "5",
    ]) == 0
    exhaustive = _json_lines(capsys)
    assert cli.main([
        "bm25", "--index", idx, "--terms", "table,value", "--k", "5", "--wand",
    ]) == 0
    wand = _json_lines(capsys)
    assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in exhaustive]
    for a, b in zip(wand, exhaustive):
        assert abs(a["score"] - b["score"]) < 1e-9


@pytest.mark.spark
def test_cli_bm25_wand_stale_blocks_scores_exhaustively(
    cli, spark, tmp_path, sf_dir, capsys
):
    """bm25 --wand on a store whose block tables are stale (a segment
    ingested after the last block publish) falls back to the exhaustive
    aggregate: output == in-process bm25_topk row for row, plus a warning."""
    from elipdotter_spark.operators import bm25
    from elipdotter_spark.sources.catalog import IndexStore

    idx = str(tmp_path / "idx")
    store = IndexStore(spark, idx)
    store.write_segment(
        "seg-0", spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    store.publish()
    store.write_segment("seg-1", spark.createDataFrame(
        [(9000, "table value table freshterm"), (9001, "value freshterm")],
        "doc_id long, text string",
    ))
    store.publish(with_compressed=False)
    snap = store.snapshot()
    assert snap.blocks_stale and not snap.stale
    n, avgdl = snap.corpus_stats()
    q = ["table", "value", "freshterm"]
    want = [
        (r.doc_id, round(r.score, 9))
        for r in bm25.bm25_topk(
            store.merged_postings(), snap.published_docstats(),
            snap.published_terms(), q, 5, n=n, avgdl=avgdl,
        ).collect()
    ]
    capsys.readouterr()
    assert cli.main([
        "bm25", "--index", idx, "--terms", ",".join(q), "--k", "5", "--wand",
    ]) == 0
    cap = capsys.readouterr()
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in (json.loads(x) for x in cap.out.splitlines() if x.startswith("{"))
    ]
    assert got == want
    assert 9000 in {d for d, _s in got}  # the unpublished-block doc counts
    assert "block tables are stale or absent" in cap.err


@pytest.mark.spark
def test_cli_dedup_summary(cli, sf_dir, capsys):
    assert cli.main([
        "dedup", "--input", f"{sf_dir}/documents.parquet",
        "--threshold", "0.8", "--max-ring", "8",
    ]) == 0
    summary = _json_lines(capsys)[-1]
    assert summary["n_docs"] == 500
    assert summary["n_kept"] + summary["n_dropped"] == 500
    assert summary["n_clusters"] > 0
    # canonicality: every cluster keeps exactly one representative
    assert summary["n_kept"] == 500 - (
        summary["n_candidate_docs_in_clusters"] - summary["n_clusters"]
    )


@pytest.mark.spark
def test_cli_ingest_delta_publish(cli, tmp_path, sf_dir, capsys):
    """ingest: one new segment + incremental publish; queries reflect the
    update and --wand (reading resolved delta segments) stays exact."""
    idx = str(tmp_path / "idx")
    assert cli.main([
        "build", "--input", f"{sf_dir}/documents.parquet",
        "--output", idx, "--segments", "2",
    ]) == 0
    capsys.readouterr()

    upd = str(tmp_path / "upd")
    cli.get_spark().createDataFrame(
        [(217, "freshterm only now"), (9000, "freshterm table value")],
        "doc_id long, text string",
    ).write.parquet(upd)
    assert cli.main(["ingest", "--input", upd, "--index", idx]) == 0
    out = _json_lines(capsys)[-1]
    assert out["publish_mode"] == "delta" and out["delta"] is not None
    assert out["n_docs"] == 2

    # updated doc 217 lost its old terms; the new term is queryable
    assert cli.main([
        "query", "--index", idx, "--query", "freshterm", "--k", "5",
        "--algo", "exact",
    ]) == 0
    rows = _json_lines(capsys)
    assert {r["doc_id"] for r in rows} == {217, 9000}

    assert cli.main([
        "bm25", "--index", idx, "--terms", "freshterm,table", "--k", "5",
    ]) == 0
    exhaustive = _json_lines(capsys)
    assert cli.main([
        "bm25", "--index", idx, "--terms", "freshterm,table", "--k", "5",
        "--wand",
    ]) == 0
    wand = _json_lines(capsys)
    assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in exhaustive]
    for a, b in zip(wand, exhaustive):
        assert abs(a["score"] - b["score"]) < 1e-9

    # lineage compaction: at --max-delta-segments 1 the next ingest's
    # delta pushes the stacked count past the bound -> full publish runs,
    # resets the lineage, and queries stay exact through the reset
    upd2 = str(tmp_path / "upd2")
    cli.get_spark().createDataFrame(
        [(9001, "freshterm returns again")], "doc_id long, text string"
    ).write.parquet(upd2)
    assert cli.main([
        "ingest", "--input", upd2, "--index", idx,
        "--max-delta-segments", "1",
    ]) == 0
    out2 = _json_lines(capsys)[-1]
    assert out2["publish_mode"] == "delta"
    assert out2["compacted_lineage"] is True
    assert cli.main([
        "bm25", "--index", idx, "--terms", "freshterm", "--k", "5", "--wand",
    ]) == 0
    wand2 = _json_lines(capsys)
    assert {r["doc_id"] for r in wand2} == {217, 9000, 9001}

    # stats: Sparkless store metrics over the just-exercised store
    # (the command builds its own IndexStore(None, ...) — fs-only)
    assert cli.main(["stats", "--index", idx]) == 0
    st = _json_lines(capsys)[-1]
    seg, pub, corpus = st["segments"], st["published"], st["corpus"]
    # 2 build segments + 2 ingests; 500 base docs + 2 + 1 update versions
    assert seg["n_segments"] == 4 and seg["n_docs_ingested"] == 503
    assert seg["n_postings"] > 0 and seg["bytes"] > 0 and seg["max_seq"] == 3
    # the compaction full publish covered everything: fresh, empty lineage
    assert pub["stale"] is False and pub["blocks_stale"] is False
    assert pub["delta_segments"] == 0 and pub["delta_bytes"] == 0
    assert pub["base_bytes"] > 0 and pub["delta_base_ratio"] == 0.0
    # meta counters: 500 base + docs 9000/9001 new (217 was an update)
    assert corpus["n_docs"] == 502 and corpus["avgdl"] > 0

    # --live adds the superseded fraction: 1 shadowed version of doc 217
    assert cli.main(["stats", "--index", idx, "--live"]) == 0
    st2 = _json_lines(capsys)[-1]
    assert st2["superseded_fraction"] == round(1 - 502 / 503, 4)

    # compact: the policy declines at 0.2% superseded ...
    assert cli.main(["compact", "--index", idx]) == 0
    cp = _json_lines(capsys)[-1]
    assert cp["compacted"] is False and cp["republished"] is False
    assert cp["superseded_fraction"] == round(1 - 502 / 503, 4)
    # ... --force rewrites to ONE live-only segment and republishes
    assert cli.main(["compact", "--index", idx, "--force"]) == 0
    cp2 = _json_lines(capsys)[-1]
    assert cp2["compacted"] is True and cp2["republished"] is True
    assert cp2["segment"].startswith("seg-compact-")
    assert cp2["n_docs"] == 502
    assert cli.main(["stats", "--index", idx]) == 0
    st3 = _json_lines(capsys)[-1]
    assert st3["segments"]["n_segments"] == 1
    assert st3["published"]["stale"] is False
    assert st3["corpus"]["n_docs"] == 502
    # queries through the compacted + republished store stay exact
    assert cli.main([
        "bm25", "--index", idx, "--terms", "freshterm", "--k", "5", "--wand",
    ]) == 0
    wand3 = _json_lines(capsys)
    assert [(r["doc_id"], round(r["score"], 9)) for r in wand3] == [
        (r["doc_id"], round(r["score"], 9)) for r in wand2
    ]


@pytest.mark.spark
def test_cli_batch_modes(cli, tmp_path, sf_dir, capsys):
    """batch: scored mode reproduces the single-query known-good per
    query_id; bm25 mode matches the bm25 subcommand; fsck is ok and
    parquet --output round-trips."""
    idx = str(tmp_path / "idx")
    assert cli.main([
        "build", "--input", f"{sf_dir}/documents.parquet",
        "--output", idx, "--segments", "2",
    ]) == 0
    capsys.readouterr()

    qf = str(tmp_path / "queries.json")
    with open(qf, "w") as fh:
        json.dump({"a": "table value -vector", "b": "table or vector"}, fh)
    assert cli.main([
        "batch", "--index", idx, "--queries-file", qf,
        "--mode", "scored", "--k", "3", "--algo", "exact",
    ]) == 0
    rows = _json_lines(capsys)
    a = [r for r in rows if r["query_id"] == "a"]
    assert a[0]["doc_id"] == 217 and abs(a[0]["rating"] - 16.3464) < 0.001
    assert [r["rnk"] for r in a] == [1, 2, 3]
    assert len([r for r in rows if r["query_id"] == "b"]) == 3

    with open(qf, "w") as fh:
        json.dump({"q1": "table,value"}, fh)
    assert cli.main([
        "batch", "--index", idx, "--queries-file", qf, "--mode", "bm25",
        "--k", "5",
    ]) == 0
    batch_rows = _json_lines(capsys)
    assert cli.main([
        "bm25", "--index", idx, "--terms", "table,value", "--k", "5",
    ]) == 0
    single_rows = _json_lines(capsys)
    assert [(r["doc_id"], round(r["score"], 9)) for r in batch_rows] == [
        (r["doc_id"], round(r["score"], 9)) for r in single_rows
    ]

    # parquet output round-trip
    outp = str(tmp_path / "res")
    assert cli.main([
        "batch", "--index", idx, "--queries-file", qf, "--mode", "bm25",
        "--k", "5", "--output", outp,
    ]) == 0
    assert _json_lines(capsys)[-1]["queries"] == 1

    assert cli.main(["fsck", "--index", idx, "--deep"]) == 0
    assert _json_lines(capsys)[-1]["ok"] is True


@pytest.mark.spark
def test_cli_lines_boilerplate_removal(cli, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    cli.get_spark().createDataFrame(
        [
            (0, "unique alpha\nsite footer\nunique beta"),
            (1, "site footer\nunique gamma"),
            (2, "site footer"),
            (3, "unique delta"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    outp = str(tmp_path / "cleaned")
    assert cli.main([
        "lines", "--input", inp, "--output", outp, "--max-docs", "2",
    ]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_docs"] == 4 and s["n_lines"] == 7
    assert s["n_lines_dropped"] == 3  # the 3-doc footer line, everywhere
    assert s["docs_emptied"] == 1     # doc 2 was footer-only
    got = {r["doc_id"]: r["text"] for r in
           cli.get_spark().read.parquet(outp).collect()}
    assert got[0] == "unique alpha\nunique beta"  # order preserved
    assert got[2] == ""                           # emptied but KEPT
    assert got[3] == "unique delta"


@pytest.mark.spark
def test_cli_pii_scrub(cli, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    cli.get_spark().createDataFrame(
        [
            (0, "mail a@b.org then 10.0.0.1 and call 555-123-4567"),
            (1, "clean doc"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    outp = str(tmp_path / "scrubbed")
    assert cli.main(["pii", "--input", inp, "--output", outp]) == 0
    s = _json_lines(capsys)[-1]
    assert (s["n_email"], s["n_ipv4"], s["n_phone"]) == (1, 1, 1)
    assert s["docs_with_pii"] == 1 and s["n_docs"] == 2
    got = {r["doc_id"]: r["text"] for r in
           cli.get_spark().read.parquet(outp).collect()}
    assert got[0] == "mail [EMAIL] then [IP] and call [PHONE]"
    assert got[1] == "clean doc"


@pytest.mark.spark
def test_cli_ngrams_decontam_pack(cli, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    cli.get_spark().createDataFrame(
        [
            (0, "x y x y z"),
            (1, "x y w"),
            (2, "benchmark question one two three exactly"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)

    assert cli.main(["ngrams", "--input", inp, "--n", "2", "--k", "3"]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_grams_returned"] == 3
    assert s["top"][0] == {"gram": "x y", "n_occurrences": 3, "n_docs": 2,
                           "rank": 1}

    ev = str(tmp_path / "eval")
    cli.get_spark().createDataFrame(
        [(9, "the benchmark question one two three here")],
        "doc_id long, text string",
    ).write.parquet(ev)
    outp = str(tmp_path / "kept")
    assert cli.main([
        "decontam", "--input", inp, "--eval", ev, "--n", "5",
        "--output", outp,
    ]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_train"] == 3 and s["n_contaminated"] == 1 and s["n_kept"] == 2
    kept_ids = {r["doc_id"] for r in
                cli.get_spark().read.parquet(outp).collect()}
    assert kept_ids == {0, 1}  # doc 2 shared "benchmark question one two three"

    assert cli.main([
        "pack", "--input", inp, "--budget", "4", "--buckets", "1",
    ]) == 0
    s = _json_lines(capsys)[-1]
    # doc order 0,1,2: tokens 5,3,6 -> starts 0,5,8; budget 4 ->
    # doc0 spans chunks 0-1, doc1 chunk 1, doc2 chunks 2-3 -> 4 chunks
    assert s["n_docs"] == 3 and s["n_tokens"] == 14
    assert s["n_chunks"] == 4 and s["docs_spanning"] == 2


@pytest.mark.spark
def test_cli_gopher_rule_breakdown(cli, tmp_path, capsys):
    inp = str(tmp_path / "gopher_docs")
    cli.get_spark().createDataFrame(
        [
            (0, "the elephant and the giraffe have wandered with that herd"),
            (1, "- alpha item here\n- beta item there\n- gamma item everywhere"),
            (2, "111 222 333 444 zebra"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    outp = str(tmp_path / "kept")
    assert cli.main([
        "gopher", "--input", inp, "--min-tokens", "3", "--output", outp,
    ]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_docs"] == 3 and s["n_pass"] == 1
    assert s["fail_bullet"] == 1 and s["fail_alpha"] == 1
    assert s["fail_stop"] == 2  # neither pathology doc has Gopher stopwords
    kept = cli.get_spark().read.parquet(outp).collect()
    assert [r["doc_id"] for r in kept] == [0]
    # custom stopwords flip the synthetic corpus's r_stop
    assert cli.main([
        "gopher", "--input", inp, "--min-tokens", "3",
        "--stop-words", "zebra,111,222",
    ]) == 0
    assert _json_lines(capsys)[-1]["fail_stop"] == 2  # docs 0 and 1 now fail


@pytest.mark.spark
def test_cli_spans_dup_passages(cli, tmp_path, capsys):
    inp = str(tmp_path / "span_docs")
    cli.get_spark().createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "x a b c d y"),
            (2, "q r s t u v"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    outp = str(tmp_path / "spans")
    exc = str(tmp_path / "excised")
    assert cli.main([
        "spans", "--input", inp, "--n", "3", "--min-docs", "2",
        "--output", outp, "--excise-output", exc,
    ]) == 0
    s = _json_lines(capsys)[-1]
    # docs 0 and 1 share the 4-token passage "a b c d" (two 3-gram runs)
    assert s["n_spans"] == 2 and s["n_docs_with_dups"] == 2
    assert s["dup_tokens_total"] == 8 and s["longest_span_tokens"] == 4
    assert s["tokens_in"] == 18 and s["tokens_removed"] == 8
    spans = {(r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
             for r in cli.get_spark().read.parquet(outp).collect()}
    assert spans == {(0, 0, 3, 2), (1, 1, 4, 2)}
    clean = {r["doc_id"]: r["text_clean"]
             for r in cli.get_spark().read.parquet(exc).collect()}
    assert clean == {0: "e f", 1: "x y", 2: "q r s t u v"}


@pytest.mark.spark
@pytest.mark.slow
def test_cli_clean_front_door_flags(cli, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    cli.get_spark().createDataFrame(
        [
            (0, "the a of and alpha beta\nsite footer"),
            (1, "the a of and gamma delta x@y.org\nsite footer"),
            (2, "the a of and epsilon zeta 10.0.0.1\nsite footer"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    assert cli.main([
        "clean", "--input", inp, "--min-tokens", "3",
        "--line-max-docs", "2", "--pii",
    ]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_docs"] == 3 and s["n_kept"] == 3
    assert s["n_lines"] == 6 and s["n_lines_kept"] == 3  # footer dropped
    assert s["pii_redactions"] == {"n_email": 1, "n_ipv4": 1, "n_phone": 0}


@pytest.mark.spark
def test_cli_c4_battery(cli, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    good = "\n".join(f"a good prose line number {i} ." for i in range(3))
    cli.get_spark().createDataFrame(
        [
            (0, good),
            (1, good + "\nplease enable javascript to view this ."),
            (2, good + "\nlorem ipsum dolor sit amet today ."),
            (3, "too short .\nno punctuation in this line at all"),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    outp = str(tmp_path / "kept")
    assert cli.main(["c4", "--input", inp, "--output", outp]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_docs"] == 4 and s["n_kept_docs"] == 2  # docs 0 and 1
    assert s["docs_lorem"] == 1 and s["docs_brace"] == 0
    got = {r["doc_id"]: r["text"] for r in
           cli.get_spark().read.parquet(outp).collect()}
    assert set(got) == {0, 1}
    assert got[1] == good  # the javascript line was filtered out


@pytest.mark.spark
def test_cli_tfidf_lmscore_budget(cli, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    cli.get_spark().createDataFrame(
        [
            (0, "src0", "apple apple banana"),
            (1, "src0", "apple cherry"),
            (2, "src1", "durian durian durian durian"),
        ],
        "doc_id long, source string, text string",
    ).write.parquet(inp)

    assert cli.main(["tfidf", "--input", inp, "--k", "2"]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_rows"] == 5  # doc2 has one distinct term
    assert s["top_terms"][0]["term"] == "durian"

    assert cli.main(["lmscore", "--input", inp]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_docs"] == 3
    assert s["nll_min"] <= s["nll_mean"] <= s["nll_max"]

    outp = str(tmp_path / "drawn")
    assert cli.main([
        "budget", "--input", inp, "--budgets", "src0=4",
        "--default-budget", "1", "--output", outp,
    ]) == 0
    s = _json_lines(capsys)[-1]
    # src0: first doc in key order kept, cum 2-3 < 4 keeps the second too
    # only if its cum_before < 4; src1: one doc at cum 0 < 1 kept (overflow)
    per = {r["source"]: r for r in s["sources"]}
    assert per["src1"]["n_kept"] == 1
    assert 1 <= per["src0"]["n_kept"] <= 2
    kept_ids = {r["doc_id"] for r in
                cli.get_spark().read.parquet(outp).collect()}
    assert 2 in kept_ids and s["n_kept"] == len(kept_ids)


@pytest.mark.spark
@pytest.mark.slow
def test_cli_clean_c4_stage(cli, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    good = "\n".join(
        f"the a of and prose line {i} ." for i in range(3)
    )
    cli.get_spark().createDataFrame(
        [
            (0, good),
            (1, good + "\nlorem ipsum dolor sit amet ."),
            (2, "the a of and single line only ."),
        ],
        "doc_id long, text string",
    ).write.parquet(inp)
    assert cli.main([
        "clean", "--input", inp, "--min-tokens", "3", "--c4",
    ]) == 0
    s = _json_lines(capsys)[-1]
    assert s["c4_docs_in"] == 3 and s["c4_docs_kept"] == 1
    assert s["n_kept"] == 1  # only doc 0 survives to the cleaner


@pytest.mark.spark
@pytest.mark.slow
def test_cli_pipeline_end_to_end(cli, tmp_path, capsys):
    import json as _json

    sp = cli.get_spark()
    inp = str(tmp_path / "docs")
    # 4 docs: one near-dup pair (exact), one PII carrier, one eval-contaminated
    sp.createDataFrame(
        [
            (0, "srcA", "the a of and alpha beta gamma delta"),
            (1, "srcA", "the a of and alpha beta gamma delta"),  # exact dup
            (2, "srcB", "the a of and epsilon zeta mail x@y.org"),
            (3, "srcB", "the a of and unique benchmark question one two three"),
        ],
        "doc_id long, source string, text string",
    ).write.parquet(inp)
    ev = str(tmp_path / "eval")
    sp.createDataFrame(
        [(9, "the unique benchmark question one two three here")],
        "doc_id long, text string",
    ).write.parquet(ev)
    out = str(tmp_path / "out")
    cfg = {
        "input": inp,
        "pii": True,
        "clean": {"lang": "en", "min_tokens": 3, "min_stopword_ratio": 0.0,
                  "jaccard": 0.8, "max_ring": None},
        "decontam": {"eval": ev, "n": 5},
        "budget": {"budgets": {"srcA": 1000}, "default_budget": 1000},
        "pack": {"budget": 4, "buckets": 2},
        "output": out,
    }
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        _json.dump(cfg, f)
    assert cli.main(["pipeline", "--config", cfg_path]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_input"] == 4
    assert s["after_exact_dedup"] == 3  # dup pair collapsed
    assert s["after_decontam"] == 2  # doc 3 shares the eval 5-gram
    assert s["after_budget"] == 2 and s["n_output"] == 2
    assert s["pii_redactions"]["n_email"] == 1
    got = {r["doc_id"]: r["text"] for r in sp.read.parquet(out + "/docs").collect()}
    assert set(got) == {0, 2}
    assert "[EMAIL]" in got[2]
    pack = sp.read.parquet(out + "/pack")
    assert pack.count() == 2 and s["n_chunks"] >= 2


def test_cli_pipeline_pages_front_door(cli, tmp_path, capsys):
    """pipeline --format pages: recrawl collapse -> HTML extraction ->
    markup dead letter -> per-domain cap -> cleaner."""
    import json as _json

    sp = cli.get_spark()
    inp = str(tmp_path / "pages")
    text = "the a of and alpha beta gamma delta epsilon"
    # docs 0+1: recrawl variants of ONE page (1 is later -> wins);
    # doc 2: raw < leftover -> markup dead letter;
    # docs 3+4: two pages on one domain -> domain_cap 1 keeps one
    sp.createDataFrame(
        [
            (0, "https://a.example/p?utm_source=x", 10, f"<p>{text}</p>"),
            (1, "https://A.EXAMPLE/p", 20, f"<p>{text} newer</p>"),
            (2, "https://b.example/q", 10, f"<p>broken a < b {text}</p>"),
            (3, "https://c.example/r1", 10, f"<p>{text} one</p>"),
            (4, "https://c.example/r2", 10, f"<p>{text} two</p>"),
        ],
        "doc_id long, url string, warc_ts long, html string",
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    dead = str(tmp_path / "dead")
    dm = str(tmp_path / "docmap")
    cfg = {
        "input": inp,
        "format": "pages",
        "dead_letter": dead,
        "domain_cap": 1,
        "anchors": True,   # no <a> in this synth: text must be unchanged
        "docmap": dm,
        "clean": {"lang": "en", "min_tokens": 3, "min_stopword_ratio": 0.0,
                  "jaccard": 0.8, "max_ring": None},
        "output": out,
    }
    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        _json.dump(cfg, f)
    assert cli.main(["pipeline", "--config", cfg_path]) == 0
    s = _json_lines(capsys)[-1]
    assert s["n_crawls_in"] == 5
    assert s["n_markup_dead"] == 1
    assert s["n_input"] == 3  # 4 canonical pages - 1 markup dead letter
    assert s["anchors"] is True and s["docmap"] == dm
    dmap = {r.doc_id: r for r in sp.read.parquet(dm).collect()}
    assert set(dmap) == {1, 3, 4}  # non-markup winners
    assert dmap[1].host == "a.example"
    assert s["after_domain_cap"] == 2  # c.example capped to one page
    rows = {r["doc_id"]: r for r in sp.read.parquet(out + "/docs").collect()}
    assert 1 in rows  # the later recrawl won
    assert rows[1]["text"] == f"{text} newer"
    assert rows[1]["norm_url"] == "https://a.example/p"
    dl = sp.read.parquet(dead).collect()
    assert [r["doc_id"] for r in dl] == [2] and dl[0]["has_markup"]


@pytest.mark.spark
def test_cli_build_pages_anchors(cli, spark, tmp_path, capsys):
    """--anchors: in-link anchor terms become indexable text on the TARGET
    page — a query for an anchor-only term must hit the target doc."""
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [
            (10, "https://src1.example/a", 1700000000,
             '<html><body>alpha <a href="https://t.example/p">zzanchor engine</a></body></html>'),
            (11, "https://src2.example/b", 1700000000,
             '<html><body>beta <a href="https://t.example/p">zzanchor</a></body></html>'),
            (12, "https://t.example/p", 1700000000,
             "<html><body>the target page text</body></html>"),
        ],
        "doc_id long, url string, warc_ts long, html string",
    ).withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
    pin = str(tmp_path / "pages")
    idx = str(tmp_path / "idx")
    pages.write.parquet(pin)
    assert cli.main([
        "build", "--input", pin, "--output", idx, "--segments", "1",
        "--format", "pages", "--anchors",
    ]) == 0
    info = _json_lines(capsys)[-1]
    assert info.get("anchors") is True
    assert cli.main([
        "query", "--index", idx, "--query", "zzanchor", "--k", "3",
        "--algo", "exact",
    ]) == 0
    rows = _json_lines(capsys)
    assert rows and rows[0]["doc_id"] == 12  # the TARGET, not the sources


@pytest.mark.spark
def test_cli_stream_pages(cli, spark, tmp_path, capsys):
    """stream --format pages: crawl pages drain through the HTML front
    door into ledger segments; a second drain with new files adds
    segments; queries work against the live (unpublished) store."""
    import os

    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "incoming")
    os.makedirs(in_dir)
    idx = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    pages = spark.createDataFrame(
        [
            (1, "https://a.example/p", 100,
             "<html><body>zzstream alpha words</body></html>"),
            (2, "https://b.example/q", 100,
             "<html><body>beta words</body></html>"),
        ],
        "doc_id long, url string, warc_ts long, html string",
    ).withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
    pages.write.parquet(os.path.join(in_dir, "b1"))
    assert cli.main([
        "stream", "--input", in_dir + "/*", "--index", idx,
        "--checkpoint", ckpt, "--format", "pages",
    ]) == 0
    info = _json_lines(capsys)[-1]
    assert info["segments_after"] >= 1 and info["published_stale"]

    assert cli.main([
        "query", "--index", idx, "--query", "zzstream", "--k", "3",
        "--algo", "exact",
    ]) == 0
    rows = _json_lines(capsys)
    a_id = spark.sql("SELECT xxhash64('https://a.example/p') AS h").collect()[0].h
    assert [r["doc_id"] for r in rows] == [a_id]

    # second drain: a re-crawl of A must UPDATE, not duplicate
    spark.createDataFrame(
        [(7, "https://a.example/p", 300,
          "<html><body>zzfresh alpha words</body></html>")],
        "doc_id long, url string, warc_ts long, html string",
    ).withColumn("warc_ts", F.timestamp_seconds("warc_ts")).write.parquet(
        os.path.join(in_dir, "b2")
    )
    dm = str(tmp_path / "docmap")
    assert cli.main([
        "stream", "--input", in_dir + "/*", "--index", idx,
        "--checkpoint", ckpt, "--format", "pages",
        "--docmap", dm, "--publish",
    ]) == 0
    info2 = _json_lines(capsys)[-1]
    assert info2["segments_after"] == info2["segments_before"] + 1
    # --publish refreshes (full fallback: never-published store) and the
    # store reads fresh afterward
    assert info2["publish_mode"] in ("delta", "full")
    assert info2["published_stale"] is False
    assert cli.main([
        "query", "--index", idx, "--query", "zzstream", "--k", "3",
        "--algo", "exact",
    ]) == 0
    assert _json_lines(capsys) == []  # old content superseded
    assert cli.main([
        "query", "--index", idx, "--query", "zzfresh", "--k", "3",
        "--algo", "exact",
    ]) == 0
    assert [r["doc_id"] for r in _json_lines(capsys)] == [a_id]
    # the per-batch docmap resolves the hashed id back to the page
    m = {r.doc_id: r.norm_url
         for r in spark.read.parquet(dm + "/batch-*").collect()}
    assert m[a_id] == "https://a.example/p"


@pytest.mark.spark
def test_docmap_latest_wins_resolution(cli, spark, tmp_path):
    """_docmap_latest: streamed per-batch docmaps carry several rows per
    hashed doc_id (recrawls) — readers must take the LATEST batch's row,
    not an arbitrary one (ADVICE r6)."""
    from pyspark.sql import functions as F

    dm = str(tmp_path / "dm")
    spark.createDataFrame(
        [(1, "https://a.example/old", "https://a.example/p")],
        "doc_id long, url string, norm_url string",
    ).write.parquet(f"{dm}/batch-000000")
    spark.createDataFrame(
        [(1, "https://a.example/new", "https://a.example/p"),
         (2, "https://b.example/q", "https://b.example/q")],
        "doc_id long, url string, norm_url string",
    ).write.parquet(f"{dm}/batch-000001")
    out = {
        r.doc_id: r.url
        for r in cli._docmap_latest(spark.read.parquet(f"{dm}/batch-*")).collect()
    }
    assert out == {1: "https://a.example/new", 2: "https://b.example/q"}


@pytest.mark.spark
def test_docmap_latest_orders_batches_numerically(cli, spark, tmp_path):
    """The batch ordinal outgrows its six-digit zero padding: batch-1000000
    is newer than batch-999999 even though its path sorts first."""
    dm = str(tmp_path / "dm")
    spark.createDataFrame([(1, "old")], "doc_id long, url string") \
        .write.parquet(f"{dm}/batch-999999")
    spark.createDataFrame([(1, "new")], "doc_id long, url string") \
        .write.parquet(f"{dm}/batch-1000000")
    out = {
        r.doc_id: r.url
        for r in cli._docmap_latest(spark.read.parquet(f"{dm}/batch-*")).collect()
    }
    assert out == {1: "new"}
    # a single-write docmap (no batch dirs) passes through unchanged
    single = str(tmp_path / "single")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, url string"
    ).write.parquet(single)
    out2 = {
        r.doc_id: r.url
        for r in cli._docmap_latest(spark.read.parquet(single)).collect()
    }
    assert out2 == {1: "a", 2: "b"}

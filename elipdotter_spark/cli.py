"""spark-submit entry point: ``spark-submit --py-files elipdotter_spark.zip cli.py ...``

Subcommands:
  build  --input <parquet dir/glob> --output <index store dir> [--segments N]
  query  --index <index store dir> --query "<elipdotter query>" [--k N]
  bm25   --index <index store dir> --terms t1,t2 [--k N] [--wand]
  dedup  --input <parquet dir/glob> [--output <parquet>] [--threshold J]
         [--max-ring R] [--cc-checkpoint-dir D]
         # near-dup clustering -> canonical corpus
  clean  --input <parquet dir/glob> [--output <parquet>] [--lang L]
         [--min-tokens N] [--min-stopword-ratio R] [--threshold J]
         [--max-ring R] [--cc-checkpoint-dir D]
         # langid -> quality -> exact+near dedup; the checkpoint dir makes
         # the iterative clustering rounds + result durable (preemptible
         # clusters)
  compact --index <index store dir> [--max-superseded 0.3] [--force]
          [--no-publish]
         # physical segment rewrite dropping shadowed doc versions, then
         # a full publish (policy-gated on the superseded fraction)
  stats  --index <index store dir> [--live]
         # one-line JSON store metrics: segments/postings/bytes, publish
         # freshness + delta lineage, corpus counters (Sparkless; --live
         # adds the superseded-doc fraction via one aggregate)
  sweep  --index <index store dir> --gc-grace-sec N
         # cron janitor for grace-window stores: delete retired dirs whose
         # window expired (no SparkSession needed)
  pii    --input <parquet dir/glob> [--output <parquet>]
         # scrub emails/IPv4s/phones with typed placeholders; audit counts
  ngrams --input <parquet dir/glob> [--n 2] [--k 100] [--output <parquet>]
         # corpus top-k word n-grams (boilerplate/template mining)
  decontam --input <train parquet> --eval <eval parquet> [--n 5]
         [--output <parquet>]
         # drop training docs sharing a word n-gram with the eval set
  pack   --input <parquet dir/glob> [--budget 512] [--buckets 8]
         [--output <parquet>]
         # concatenate-and-chunk sequence packing assignment table

On a cluster the SparkSession comes from spark-submit's conf; standalone runs
fall back to local[*].  The build is the resumable segmented build — re-run
the same command after a failure and only pending segments are rebuilt.
"""

from __future__ import annotations

import argparse
import json
import sys


def get_spark():
    from pyspark.sql import SparkSession

    return SparkSession.builder.appName("elipdotter-spark").getOrCreate()


def cmd_build(args) -> int:
    from elipdotter_spark.sources.catalog import IndexStore

    spark = get_spark()
    extra = {}
    if getattr(args, "format", "parquet") == "jsonl":
        from elipdotter_spark.sources.corpus import read_docs_jsonl

        docs, dead = read_docs_jsonl(spark, args.input)
        if args.dead_letter:
            dead.write.mode("overwrite").parquet(args.dead_letter)
            extra["n_dead"] = spark.read.parquet(args.dead_letter).count()
        else:
            extra["n_dead"] = dead.count()
        extra["dead_letter"] = args.dead_letter
    elif getattr(args, "format", "parquet") in ("pages", "warc"):
        # crawl front door: input_hint pages -> recrawl collapse -> HTML
        # extraction; markup leftovers dead-letter instead of indexing.
        # --format warc first parses raw WARC shards into the pages shape
        # (record-level parse errors join the dead letter).
        from pyspark.sql import functions as F

        from elipdotter_spark.operators import html as html_ops

        if args.format == "warc":
            from elipdotter_spark.sources import warc as warc_src

            records = warc_src.read_warc(spark, args.input)
            pages, warc_dead = warc_src.warc_pages(records)
            if args.dead_letter:
                # record-level parse errors have their own schema; they
                # land next to the markup dead letter, suffixed
                warc_dead.write.mode("overwrite").parquet(
                    args.dead_letter + "-warc"
                )
                extra["n_warc_dead"] = spark.read.parquet(
                    args.dead_letter + "-warc"
                ).count()
            else:
                extra["n_warc_dead"] = warc_dead.count()
        else:
            pages = spark.read.parquet(args.input)
        pages = pages.repartition(
            spark.sparkContext.defaultParallelism
        )
        ing = html_ops.crawl_ingest(pages)
        bad = ing.filter(F.col("has_markup"))
        if args.dead_letter:
            bad.write.mode("overwrite").parquet(args.dead_letter)
            extra["n_dead"] = spark.read.parquet(args.dead_letter).count()
        else:
            extra["n_dead"] = bad.count()
        extra["dead_letter"] = args.dead_letter
        text_col = "text_clean"
        if getattr(args, "anchors", False):
            # classic search-engine move: in-link anchor terms join the
            # target page's indexable text (capped per source).  Mined
            # from the recrawl WINNERS, not the raw crawl records: a page
            # recrawled R times would otherwise count as R distinct
            # sources (inflating the per-source repeat cap R-fold) and
            # superseded page versions would still donate anchors
            # (ADVICE r6)
            ing = html_ops.anchor_augment(ing, html_ops.recrawl_latest(pages))
            text_col = "text_indexed"
            extra["anchors"] = True
        docs = ing.filter(~F.col("has_markup")).select(
            "doc_id", F.col(text_col).alias("text"), "url", "norm_url"
        )
        if getattr(args, "docmap", None):
            # S3 surfaced for the web shape: the id <-> url map the query
            # side needs for site: filtering and URL resolution (kept
            # OUTSIDE the store dir — store dirs are meta-managed)
            from elipdotter_spark.operators import urls as url_ops

            url_ops.parse_urls(
                docs.select("doc_id", "url"), url_col="url"
            ).select(
                "doc_id", "url", "norm_url", "host", "registered_domain"
            ).write.mode("overwrite").parquet(args.docmap)
            extra["docmap"] = args.docmap
    else:
        docs = spark.read.parquet(args.input)
    store = IndexStore(spark, args.output, gc_grace_sec=args.gc_grace_sec)
    rows = store.build_resumable(docs, n_segments=args.segments)
    info = store.publish()
    print(json.dumps({"built_segments": len(rows), **info, **extra}))
    return 0


def cmd_stream(args) -> int:
    """Batch-incremental streaming ingest (availableNow trigger): drain
    whatever new files --input holds into the store, one ledger segment
    per micro-batch, exactly-once under replay via the content-digest
    guard.  --format docs streams (doc_id, text) parquet; --format pages
    streams raw crawl pages through the gated HTML front door with doc
    identity = xxhash64(norm_url), so a re-crawled page in a later run is
    an UPDATE under latest-wins.  Segments are left unpublished — run
    `ingest`-style publish via `compact --force` or the library publish
    paths; query paths fall back to live derivation meanwhile."""
    from elipdotter_spark.sources.catalog import IndexStore
    from elipdotter_spark.streaming import incremental

    spark = get_spark()
    store = IndexStore(
        spark, args.index, gc_grace_sec=getattr(args, "gc_grace_sec", 0.0)
    )
    before = len(store.completed_segments())
    prefix = args.segment_prefix or (
        "crawl" if args.format == "pages" else "stream"
    )
    if args.format == "pages":
        q = incremental.start_crawl_ingest(
            spark, args.input, store, args.checkpoint,
            segment_prefix=prefix,
            dead_letter_dir=args.dead_letter,
            docmap_dir=getattr(args, "docmap", None),
        )
    else:
        q = incremental.start_ingest(
            spark, args.input, store, args.checkpoint,
            segment_prefix=prefix,
        )
    q.awaitTermination()
    segs = store.completed_segments()
    out = {
        "format": args.format,
        "segments_before": before,
        "segments_after": len(segs),
    }
    if getattr(args, "publish", False) and len(segs) > before:
        # same refresh contract as `ingest`: incremental delta publish,
        # full-publish fallback for stores without block stats
        try:
            store.publish_delta()
            out["publish_mode"] = "delta"
        except ValueError:
            store.publish()
            out["publish_mode"] = "full"
    out["published_stale"] = store.published_stale()
    print(json.dumps(out))
    return 0


def cmd_ingest(args) -> int:
    """Ingest a parquet of documents into an EXISTING store as one new
    segment (latest-wins on re-ingested doc ids), then refresh the
    published index incrementally — publish_delta() rewrites only the
    (term, range) blocks the update touches (8.9x faster than a full
    publish for a 1000-doc update at the 1M stress); stores without
    recorded block stats fall back to a full publish."""
    import time as _time

    from elipdotter_spark.sources.catalog import IndexStore

    spark = get_spark()
    docs = spark.read.parquet(args.input)
    store = IndexStore(spark, args.index, gc_grace_sec=args.gc_grace_sec)
    seg_id = args.segment_id or f"ingest-{int(_time.time() * 1000)}"
    row = store.write_segment(seg_id, docs)
    try:
        info = store.publish_delta()
        mode = "delta"
    except ValueError:
        info = store.publish()
        mode = "full"
    # LSM-style lineage compaction: per-delta publish stays cheap but every
    # query unions base + K delta segments, so unattended ingest loops must
    # bound K (threshold from the BENCH.md latency-vs-K curve)
    compacted = None
    if mode == "delta":
        compacted = store.maybe_compact_lineage(
            max_delta_segments=args.max_delta_segments,
            mode=args.compaction,
        )
    print(
        json.dumps(
            {
                "segment": row["segment_id"],
                "seq": row["seq"],
                "n_docs": row["n_docs"],
                "publish_mode": mode,
                "delta": info.get("delta") if mode == "delta" else None,
                "compacted_lineage": compacted is not None,
                # auto mode picks merge vs full from the measured
                # delta/base byte ratio; report which it chose
                "compaction_mechanism": (
                    None
                    if compacted is None
                    else ("merge" if "merged" in compacted else "full")
                ),
            }
        )
    )
    return 0


def _load(spark, index_dir):
    """(store, snap, postings, terms, docstats, stale).

    Postings are always live (latest-wins over all ledger segments).  The
    published terms/docstats snapshots are used only when FRESH — a store
    with segments ingested after the last publish() would otherwise answer
    with a silently stale dictionary (missing new terms entirely, wrong
    df/idf for old ones) on every query path, not just --wand.  When stale,
    the side tables are derived live from the postings (one aggregate each)
    and a warning tells the operator to re-publish.

    All published reads go through ONE pinned snapshot (``snap``), so a
    publish landing concurrently with this command cannot mix two
    snapshots' artifacts across the staleness probe / dictionary /
    stats / block-table reads."""
    from elipdotter_spark.operators import index_build
    from elipdotter_spark.sources.catalog import IndexStore

    store = IndexStore(spark, index_dir)
    snap = store.snapshot()
    postings = store.merged_postings().cache()  # latest-wins on re-ingest
    stale = snap.stale
    if stale:
        print(
            "warning: published snapshot predates the newest segment (or "
            "was never published); deriving terms/docstats live — re-run "
            "publish() to refresh",
            file=sys.stderr,
        )
        terms = index_build.build_terms(postings).cache()
        docstats = index_build.docstats_from_postings(postings).cache()
    else:
        # resolved readers: base + (terms/docstats)-delta segments,
        # latest-wins — a delta-published store's base dirs alone are stale
        terms = snap.published_terms().cache()
        docstats = snap.published_docstats().cache()
    return store, snap, postings, terms, docstats, stale


def _docmap_latest(dm):
    """Resolve a docmap to ONE row per doc_id, latest-wins.

    Streamed docmaps are per-batch dirs (``batch-%06d``), so a recrawled
    page legitimately carries several rows for the same hashed doc_id and
    readers must take the latest (the stream help text's contract).
    ``max_by`` orders on the NUMERIC batch ordinal parsed from the source
    file path — the zero padding stops at six digits, so the raw path
    would sort ``batch-1000000`` before ``batch-999999`` — with the path
    itself as the tiebreak; a single-write docmap (no ``batch-`` dir,
    ordinal -1) has one row per doc and passes through unchanged.
    Without this, the --resolve-urls map and the --site restrict set kept
    an ARBITRARY collected row."""
    from pyspark.sql import functions as F

    cols = [c for c in dm.columns if c != "doc_id"]
    src = F.col("_metadata.file_path")
    ordinal = F.coalesce(
        F.regexp_extract(src, r".*batch-(\d+)", 1).try_cast("long"),
        F.lit(-1).cast("long"),
    )
    return (
        dm.withColumn("_src", F.struct(ordinal.alias("o"), src.alias("p")))
        .groupBy("doc_id")
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in cols]), F.col("_src")
            ).alias("w")
        )
        .select("doc_id", *[F.col(f"w.{c}").alias(c) for c in cols])
    )


def cmd_query(args) -> int:
    from elipdotter_spark.plans.compiler import QueryEngine

    spark = get_spark()
    if "," in args.index:
        # FEDERATED scored query: one engine over the unioned shard
        # tables — the per-doc kernel only needs each doc's own rows plus
        # the global qword-set aggregate, which the union provides
        from elipdotter_spark.operators import federation
        from elipdotter_spark.sources.catalog import IndexStore

        stores = [IndexStore(spark, p) for p in args.index.split(",")]
        postings, terms, _ds, _n, _avgdl = federation.federated_tables(stores)
    else:
        _store, _snap, postings, terms, _ds, _stale = _load(spark, args.index)
    engine = QueryEngine(
        spark,
        postings,
        terms,
        proximity_threshold=args.threshold,
        algo=args.algo,
        word_count_limit=args.word_count_limit,
    )
    from pyspark.sql import functions as F

    restrict = None
    docmap = None
    if getattr(args, "docmap", None):
        docmap = _docmap_latest(spark.read.parquet(args.docmap))
    if getattr(args, "site", None):
        if docmap is None:
            raise SystemExit("--site requires --docmap (built with "
                             "build --format pages --docmap)")
        site = args.site.lower().lstrip(".")
        # block_domains suffix semantics: the site and every subdomain
        restrict = docmap.filter(
            (F.col("host") == site) | F.col("host").endswith("." + site)
        ).select("doc_id")
    rows = engine.topk(
        args.query, args.distance_threshold, args.k, restrict=restrict
    ).collect()
    url_by_id = {}
    if docmap is not None and getattr(args, "resolve_urls", False) and rows:
        ids = [int(r.doc_id) for r in rows]
        url_by_id = {
            r.doc_id: r.norm_url
            for r in docmap.filter(F.col("doc_id").isin(ids))
            .select("doc_id", "norm_url")
            .collect()
        }
    snips = {}
    if getattr(args, "snippets_docs", None) and rows:
        # SERP excerpting — the occurrence starts exist exactly for this
        # (byte offsets into the original text; snippet_extract)
        from elipdotter_spark.operators import text_analysis

        hits_df = spark.createDataFrame(
            [(int(r.doc_id), int(r.start)) for r in rows],
            "doc_id long, start long",
        )
        docs_df = spark.read.parquet(args.snippets_docs)
        snips = {
            (r.doc_id, r.start): r.snippet
            for r in text_analysis.snippet_extract(
                hits_df, docs_df, width=args.snippet_width
            ).collect()
        }
    for r in rows:
        out = {"doc_id": r.doc_id, "start": r.start, "rating": float(r.rating)}
        if url_by_id:
            out["url"] = url_by_id.get(r.doc_id)
        if snips:
            out["snippet"] = snips.get((r.doc_id, r.start))
        print(json.dumps(out))
    return 0


def cmd_batch(args) -> int:
    """Batched query execution — the evaluation / query-log workload: a
    JSON file of ``{query_id: query}`` runs as ONE Spark pipeline instead
    of one job per query (bench: 3.35x at batch=8, growing with batch and
    corpus size).  ``--mode bm25`` treats each query as comma-separated
    terms (``bm25_topk_batch``); ``--mode scored`` parses the reference
    query grammar and runs the rank-identical f32 scoring kernel
    (``QueryEngine.topk_batch``).  Results go to ``--output`` parquet or
    stdout JSON lines, ranked 1..k per query."""
    from elipdotter_spark.operators import bm25
    from elipdotter_spark.plans.compiler import QueryEngine

    with open(args.queries_file) as fh:
        queries = json.load(fh)
    if not isinstance(queries, dict) or not queries:
        raise SystemExit("--queries-file must be a non-empty JSON object "
                         "{query_id: query}")
    spark = get_spark()
    store, snap, postings, terms, docstats, _stale = _load(spark, args.index)
    if args.mode == "bm25":
        if not _stale:
            n, avgdl = snap.corpus_stats()
        else:
            n, avgdl = bm25.corpus_stats(docstats)
        qsets = {qid: q.split(",") for qid, q in queries.items()}
        span = (snap.meta or {}).get("doc_span") if not _stale else None
        if span and not snap.blocks_stale:
            # published compressed blocks carry (term, block, block_max)
            # on the same range key -> batched block-max prune for free
            comp, _dlb = snap.wand_tables(terms, n, avgdl)
            out = bm25.bm25_topk_blockmax_batch(
                postings, docstats, terms,
                comp.select("term", "block", "block_max"),
                qsets, args.k, n, avgdl, block_size=int(span),
            )
        else:
            out = bm25.bm25_topk_batch(
                postings, docstats, terms, qsets, args.k, n=n, avgdl=avgdl
            )
        cols = ["query_id", "doc_id", "score", "rnk"]
    else:
        engine = QueryEngine(
            spark, postings, terms,
            proximity_threshold=args.threshold, algo=args.algo,
            word_count_limit=args.word_count_limit,
        )
        out = engine.topk_batch(queries, args.distance_threshold, args.k)
        cols = ["query_id", "doc_id", "start", "rating", "rnk"]
    out = out.select(*cols)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"queries": len(queries), "output": args.output}))
    else:
        for r in out.orderBy("query_id", "rnk").collect():
            print(json.dumps({c: (float(v) if isinstance(v, float) else v)
                              for c, v in zip(cols, r)}))
    return 0


def cmd_bm25(args) -> int:
    import os

    from elipdotter_spark.operators import bm25, codec

    spark = get_spark()
    if "," in args.index:
        # FEDERATED: comma-separated shard stores (disjoint doc ids),
        # global stats from meta counters, per-shard WAND scatter-gather
        from elipdotter_spark.operators import federation
        from elipdotter_spark.sources.catalog import IndexStore

        stores = [IndexStore(spark, p) for p in args.index.split(",")]
        qterms = args.terms.split(",")
        if getattr(args, "prior", None):
            postings, terms, docstats, n, avgdl = (
                federation.federated_tables(stores)
            )
            topk = bm25.bm25_topk_prior(
                postings, docstats, terms, qterms, args.k,
                prior=spark.read.parquet(args.prior),
                prior_weight=args.prior_weight, n=n, avgdl=avgdl,
            )
            for r in topk.collect():
                print(json.dumps({
                    "doc_id": r.doc_id, "score": float(r.score),
                    "prior": float(r.prior), "fused": float(r.fused),
                }))
            return 0
        if args.wand:
            topk = federation.bm25_topk_wand_federated(
                stores, qterms, args.k
            )
        else:
            topk = federation.bm25_topk_federated(stores, qterms, args.k)
        for r in topk.collect():
            print(json.dumps({"doc_id": r.doc_id, "score": float(r.score)}))
        return 0
    store, snap, postings, terms, docstats, _stale = _load(spark, args.index)
    if not _stale:
        n, avgdl = snap.corpus_stats()  # meta counters: zero Spark jobs
    else:
        n, avgdl = bm25.corpus_stats(docstats)
    qterms = args.terms.split(",")
    if getattr(args, "prior", None):
        # query-independent rank fusion: (doc_id, prior) table (PageRank /
        # quality scores; `rank` writes one per domain — join it to docs
        # upstream).  Fusion runs over the FULL score set, not an unfused
        # top-k, so a high-prior doc outside it can still surface.
        prior = spark.read.parquet(args.prior)
        topk = bm25.bm25_topk_prior(
            postings, docstats, terms, qterms, args.k,
            prior=prior, prior_weight=args.prior_weight,
            n=n, avgdl=avgdl,
        )
        for r in topk.collect():
            print(json.dumps({
                "doc_id": r.doc_id, "score": float(r.score),
                "prior": float(r.prior), "fused": float(r.fused),
            }))
        return 0
    # one-job distributed block-max WAND over the published compressed
    # blocks when they are FRESH (publish() stamps the block tables' own
    # blocks_max_seq — tracked separately from the terms/docstats stamp,
    # since publish(with_compressed=False) refreshes those but not the
    # blocks).  Stale or absent blocks fall back to the exhaustive
    # aggregate, which reads only the query terms' postings — the same
    # rule federation applies per shard.  The block dirs resolve through
    # the meta: a plain-name probe would miss a versioned publish.
    wand = args.wand and not snap.blocks_stale and all(
        os.path.isdir(store._artifact_path(a, snap.meta))
        for a in ("blocks", "doclen_blocks")
    )
    if wand:
        # resolves delta block segments (publish_delta) when present;
        # a base-only store passes through unchanged
        comp, dlb = snap.wand_tables(terms, n, avgdl)
        topk = codec.bm25_topk_wand(comp, dlb, terms, qterms, args.k, n, avgdl)
    else:
        if args.wand:
            print(
                "warning: published block tables are stale or absent; "
                "scoring exhaustively — re-run publish() to refresh",
                file=sys.stderr,
            )
        topk = bm25.bm25_topk(postings, docstats, terms, qterms, args.k, n=n, avgdl=avgdl)
    for r in topk.collect():
        print(json.dumps({"doc_id": r.doc_id, "score": float(r.score)}))
    return 0


def cmd_clean(args) -> int:
    """One-command training-data corpus cleaner: language filter ->
    quality filter -> exact dedup -> near-dup canonicalization
    (dedup.clean_corpus; every stage individually cross-engine gated and
    the composition gated by txt_clean_corpus).  Prints a one-line JSON
    summary with per-stage survivor counts; --output writes the cleaned
    corpus as parquet."""
    from elipdotter_spark.operators import dedup

    spark = get_spark()
    docs = (
        spark.read.parquet(args.input)
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    n_docs = docs.count()
    stats = {}
    common = dict(
        lang=args.lang,
        min_tokens=args.min_tokens,
        min_stopword_ratio=args.min_stopword_ratio,
        jaccard=args.threshold,
        max_ring=args.max_ring if args.max_ring > 0 else None,
        stats=stats,
        cc_checkpoint_dir=args.cc_checkpoint_dir,
    )
    if args.line_max_docs is not None or args.pii or args.c4:
        cleaned = dedup.preprocess_corpus(
            docs, line_max_docs=args.line_max_docs, pii=args.pii,
            c4=args.c4, **common
        )
    else:
        cleaned = dedup.clean_corpus(docs, **common)
    if args.output:
        cleaned.write.mode("overwrite").parquet(args.output)
    docs.unpersist()  # cleaned is materialized inside clean_corpus
    n_kept = stats["after_near_dedup"]
    out = {
        "n_docs": n_docs,
        "after_lang_quality": stats["after_lang_quality"],
        "after_exact_dedup": stats["after_exact_dedup"],
        "n_kept": n_kept,
        "n_dropped": n_docs - n_kept,
        "lang": args.lang,
        "min_tokens": args.min_tokens,
        "min_stopword_ratio": args.min_stopword_ratio,
        "threshold": args.threshold,
        "output": args.output,
    }
    # front-door stages report their own counters only when enabled, so
    # the base known-good JSON is byte-stable for flagless runs
    for k in ("c4_docs_in", "c4_docs_kept", "n_lines", "n_lines_kept",
              "pii_redactions"):
        if k in stats:
            out[k] = stats[k]
    print(json.dumps(out))
    return 0


def cmd_lines(args) -> int:
    """Line-granular boilerplate removal (text_analysis.line_dedup, gated
    by txt_line_dedup): drop every line appearing in more than --max-docs
    distinct documents, preserve surviving line order.  Composes BEFORE
    `clean` the way web pipelines run (strip site boilerplate lines, then
    doc-level language/quality/dedup).  One JSON summary line; --output
    writes the corpus with the text column replaced (emptied docs kept —
    filter them with the downstream quality stage)."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = (
        spark.read.parquet(args.input)
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    out = text_analysis.line_dedup(docs, max_docs=args.max_docs, sep=args.sep)
    agg = out.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_kept").alias("n_lines_kept"),
        F.sum((F.col("n_kept") == 0).cast("long")).alias("docs_emptied"),
    ).first()
    if args.output:
        cleaned = (
            docs.drop("text")
            .join(out.select("doc_id", F.col("text_clean").alias("text")), "doc_id")
        )
        cleaned.write.mode("overwrite").parquet(args.output)
    docs.unpersist()
    print(json.dumps({
        "n_docs": agg["n_docs"],
        "n_lines": agg["n_lines"],
        "n_lines_kept": agg["n_lines_kept"],
        "n_lines_dropped": agg["n_lines"] - agg["n_lines_kept"],
        "docs_emptied": agg["docs_emptied"],
        "max_docs": args.max_docs,
        "output": args.output,
    }))
    return 0


def cmd_mix(args) -> int:
    """Per-source mixture table (text_analysis.source_mix): docs, tokens,
    quality means, and each source's token share — the numbers a
    pretraining mixture is weighted from.  One JSON line."""
    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    rows = text_analysis.source_mix(docs).orderBy("source").collect()
    print(json.dumps({"n_sources": len(rows),
                      "sources": [r.asDict() for r in rows]}))
    return 0


def cmd_sample(args) -> int:
    """Deterministic source-stratified downsample (engine-portable hash,
    no rand(): re-runs and backfills draw the same rows; a smaller
    fraction is always a subset of a larger one)."""
    from elipdotter_spark.operators import text_analysis

    fractions = {}
    if args.fractions:
        for part in args.fractions.split(","):
            src, _, frac = part.partition("=")
            if not _:
                raise SystemExit(f"--fractions entry {part!r} is not src=frac")
            fractions[src] = float(frac)
    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    sampled = text_analysis.stratified_sample(
        docs, fractions, default_fraction=args.default_fraction
    )
    if args.output:
        sampled.write.mode("overwrite").parquet(args.output)
        sampled = spark.read.parquet(args.output)
    print(json.dumps({
        "n_in": docs.count(),
        "n_kept": sampled.count(),
        "fractions": fractions,
        "default_fraction": args.default_fraction,
        "output": args.output,
    }))
    return 0


def cmd_stats(args) -> int:
    """Index size estimate / store health as one JSON line (the reference
    exposes a heap-size hint, `Provider::size` src/index.rs:736-742 —
    SURVEY S9; here the ledger metrics + meta counters are richer and,
    by default, need NO SparkSession: everything below except ``--live``
    is filesystem metadata, so this is safe to poll from monitoring).

    ``--live`` adds the superseded-doc fraction (the maybe_compact
    trigger signal), which runs one narrow distinct aggregate."""
    from elipdotter_spark.sources.catalog import IndexStore

    store = IndexStore(None, args.index)
    done = [r for r in store.ledger() if r.get("status") == "done"]
    meta = store._meta() or {}
    delta_b, base_b = store.lineage_bytes()
    cs = meta.get("corpus_stats")
    out = {
        "index": args.index,
        "segments": {
            "n_segments": len(done),
            "n_docs_ingested": sum(r.get("n_docs", 0) for r in done),
            "n_postings": sum(r.get("n_postings", 0) for r in done),
            "bytes": sum(r.get("bytes", 0) for r in done),
            "max_seq": max((r.get("seq") or 0) for r in done) if done else None,
        },
        "published": {
            "stale": store.published_stale(meta),
            "blocks_stale": store.blocks_stale(meta),
            "publish_version": meta.get("publish_version"),
            "delta_segments": store.delta_segment_count(),
            "delta_bytes": delta_b,
            "base_bytes": base_b,
            "delta_base_ratio": round(delta_b / base_b, 4) if base_b else None,
        },
        "corpus": {
            "n_docs": int(cs["n"]) if cs else None,
            "avgdl": round(float(cs["sum_dl"]) / int(cs["n"]), 4) if cs else None,
        },
    }
    if args.live:
        spark = get_spark()
        store = IndexStore(spark, args.index)
        out["superseded_fraction"] = round(store.superseded_fraction(), 4)
    print(json.dumps(out))
    return 0


def cmd_compact(args) -> int:
    """Physical segment compaction (the maintenance rewrite that drops
    doc versions shadowed by later re-ingests): by default applies the
    ``maybe_compact`` policy — rewrite only when the superseded fraction
    passes ``--max-superseded`` (Iceberg's rewrite_data_files-on-
    delete-ratio analogue) — ``--force`` rewrites unconditionally.
    Compaction invalidates any delta-publish baseline, so follow with a
    full publish (``--publish``, default on) unless the store is driven
    by a separate publisher."""
    from elipdotter_spark.sources.catalog import IndexStore

    spark = get_spark()
    store = IndexStore(spark, args.index, gc_grace_sec=args.gc_grace_sec)
    frac = store.superseded_fraction()
    if args.force:
        row = store.compact() if len(store.completed_segments()) > 1 else None
    else:
        row = store.maybe_compact(max_superseded=args.max_superseded)
    published = False
    if row is not None and args.publish:
        store.publish()
        published = True
    print(json.dumps({
        "index": args.index,
        "superseded_fraction": round(frac, 4),
        "compacted": row is not None,
        "segment": row["segment_id"] if row else None,
        "n_docs": row["n_docs"] if row else None,
        "republished": published,
    }))
    return 0


def cmd_fsck(args) -> int:
    """Store integrity verifier: validate every invariant the commit
    protocol maintains (meta-referenced dirs present with footer-valid
    parquet, ledger rows backed by data or a recoverable tmp, unique seqs,
    coverage ⊆ ledger, orphans/retired classified).  Sparkless — parquet
    FOOTER reads only, no data pages — so it is safe against a live store
    and cheap enough for monitoring.  Exit 0 when ok (warnings are
    expected states: recoverable commits, GC-pending dirs), 2 on errors."""
    from elipdotter_spark.sources.catalog import IndexStore

    store = IndexStore(None, args.index)
    repaired = store.repair() if args.repair else None
    out = store.fsck(deep=args.deep)
    if repaired is not None:
        out = {**out, "repaired": repaired}
    print(json.dumps({"index": args.index, **out}))
    return 0 if out["ok"] else 2


def cmd_sweep(args) -> int:
    """Cron-style janitor for stores run with a GC grace window: delete
    retired artifact/segment dirs whose window has expired.  Pure
    filesystem walk — no Spark jobs, so it needs no SparkSession and is
    safe to run from a cheap sidecar/cron while queries are in flight
    (that is the point of the grace window)."""
    from elipdotter_spark.sources.catalog import IndexStore

    store = IndexStore(None, args.index, gc_grace_sec=args.gc_grace_sec)
    n = store.sweep_retired()
    print(json.dumps({"index": args.index, "swept": n,
                      "gc_grace_sec": args.gc_grace_sec}))
    return 0


def cmd_backup(args) -> int:
    """Consistent Sparkless store clone (IndexStore.export_snapshot): pin
    one committed state, copy committed segments + meta-referenced
    artifacts, verify nothing moved, publish the clone with one atomic
    rename.  The clone IS a store — point a serving cluster (or a
    restore) at it directly."""
    from elipdotter_spark.sources.catalog import IndexStore

    store = IndexStore(None, args.index)
    out = store.export_snapshot(args.dest, retries=args.retries)
    print(json.dumps({"index": args.index, "dest": args.dest, **out}))
    return 0


def cmd_pii(args) -> int:
    """PII scrub (text_analysis.pii_redact, gated by txt_pii_redact):
    replace emails / IPv4s / NNN-NNN-NNNN phones with typed placeholders.
    Prints the per-type removal totals (the compliance audit line);
    --output writes the corpus with the text column scrubbed."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    out = text_analysis.pii_redact(docs)
    if args.output:
        cleaned = docs.drop("text").join(
            out.select("doc_id", F.col("text_clean").alias("text")), "doc_id"
        )
        cleaned.write.mode("overwrite").parquet(args.output)
    agg = out.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_phone").alias("n_phone"),
        F.sum(
            ((F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0).cast("long")
        ).alias("docs_with_pii"),
    ).first()
    print(json.dumps({**agg.asDict(), "output": args.output}))
    return 0


def cmd_ngrams(args) -> int:
    """Corpus top-k word n-grams (text_analysis.ngram_freq, gated by
    txt_ngram_freq) — boilerplate/template mining when repeats don't align
    on line boundaries.  Prints the top 10; --output writes all k rows."""
    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    top = text_analysis.ngram_freq(docs, n=args.n, k=args.k)
    if args.output:
        top.write.mode("overwrite").parquet(args.output)
        top = spark.read.parquet(args.output)
    rows = top.orderBy("rank").collect()
    print(json.dumps({
        "n": args.n,
        "k": args.k,
        "n_grams_returned": len(rows),
        "top": [r.asDict() for r in rows[:10]],
        "output": args.output,
    }))
    return 0


def cmd_decontam(args) -> int:
    """Benchmark decontamination (dedup.decontaminate, gated by
    dd_decontaminate): drop every training doc sharing a word --n-gram
    with the eval set.  --output writes the decontaminated training
    corpus; the JSON line is the removal audit."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import dedup

    spark = get_spark()
    train = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    ev = spark.read.parquet(args.eval)
    flags = dedup.decontaminate(train, ev, n=args.n)
    if args.output:
        kept = train.join(
            flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
        )
        kept.write.mode("overwrite").parquet(args.output)
    agg = flags.agg(
        F.count("*").alias("n_train"),
        F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
        F.sum("matched_ngrams").alias("matched_ngrams_total"),
    ).first()
    out = agg.asDict()
    out["n_kept"] = out["n_train"] - out["n_contaminated"]
    print(json.dumps({**out, "n": args.n, "output": args.output}))
    return 0


def cmd_gopher(args) -> int:
    """Gopher/MassiveText quality-rule filter (text_analysis.gopher_rules,
    gated by txt_gopher_rules).  Prints the per-rule failure breakdown —
    the numbers threshold tuning actually needs — and --output writes the
    SURVIVING docs (join back on doc_id, full original rows)."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    kw = {}
    if args.stop_words:
        kw["stop_words"] = args.stop_words.split(",")
    rules = text_analysis.gopher_rules(
        docs, min_tokens=args.min_tokens, min_stop_hits=args.min_stop_hits, **kw
    )
    if args.output:
        kept = docs.join(
            rules.filter(F.col("passes")).select("doc_id"), "doc_id"
        )
        kept.write.mode("overwrite").parquet(args.output)
    rule_cols = [c for c in rules.columns if c.startswith("r_")]
    agg = rules.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("passes").cast("long")).alias("n_pass"),
        *[
            F.sum((~F.col(c)).cast("long")).alias(f"fail_{c[2:]}")
            for c in rule_cols
        ],
    ).first()
    print(json.dumps({**agg.asDict(), "output": args.output}))
    return 0


def cmd_spans(args) -> int:
    """Substring-granular duplicate discovery (dedup.dup_spans, gated by
    dd_dup_spans): maximal token spans whose word --n-grams appear in
    >= --min-docs distinct documents — the quoted-paragraph / syndicated-
    body / license-header duplication doc-level dedup can't see.  --output
    writes the span table; the JSON line is the corpus-level audit."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import dedup

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    spans = dedup.dup_spans(docs, n=args.n, min_docs=args.min_docs)
    if args.output:
        spans.write.mode("overwrite").parquet(args.output)
        spans = spark.read.parquet(args.output)
    excised = {}
    if args.excise_output:
        clean = dedup.excise_spans(docs, spans)
        clean.write.mode("overwrite").parquet(args.excise_output)
        ca = spark.read.parquet(args.excise_output).agg(
            F.sum("n_tokens").alias("tokens_in"),
            F.sum("n_removed").alias("tokens_removed"),
        ).first()
        excised = {**ca.asDict(), "excise_output": args.excise_output}
    agg = spans.agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("doc_id").alias("n_docs_with_dups"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_tokens_total"
        ),
        F.max(F.col("span_end") - F.col("span_start") + 1).alias(
            "longest_span_tokens"
        ),
    ).first()
    out = {k: (0 if v is None else v) for k, v in agg.asDict().items()}
    print(json.dumps({**out, **excised, "n": args.n, "min_docs": args.min_docs,
                      "output": args.output}))
    return 0


def cmd_pack(args) -> int:
    """Concatenate-and-chunk sequence packing (text_analysis.pack_sequences,
    gated by txt_pack_sequences): assign every doc its training-chunk span
    under 'concat then split at the context length'.  --output writes the
    assignment table; the JSON line reports corpus-level packing totals."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    packed = text_analysis.pack_sequences(
        docs, budget=args.budget, n_buckets=args.buckets
    )
    if args.output:
        packed.write.mode("overwrite").parquet(args.output)
        packed = spark.read.parquet(args.output)
    agg = packed.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum((F.col("n_chunks") > 1).cast("long")).alias("docs_spanning"),
    ).first()
    # total chunks = per-bucket (last chunk id + 1), summed
    chunks = (
        packed.groupBy("bucket")
        .agg(F.max("chunk_last").alias("last"))
        .agg(F.sum(F.col("last") + 1).alias("n_chunks"))
        .first()["n_chunks"]
    )
    print(json.dumps({
        **agg.asDict(),
        "n_chunks": chunks,
        "budget": args.budget,
        "buckets": args.buckets,
        "output": args.output,
    }))
    return 0


def cmd_c4(args) -> int:
    """C4 cleaning battery (text_analysis.c4_rules, gated by txt_c4_rules):
    line rules (terminal punctuation, >= min-words words, no 'javascript')
    + page rules ('lorem ipsum' / '{' poison, >= min-kept-lines surviving
    lines).  Prints the page/line removal audit; --output writes the
    SURVIVING pages with their line-filtered text."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    rules = text_analysis.c4_rules(
        docs, min_words=args.min_words, min_kept_lines=args.min_kept_lines
    )
    if args.output:
        kept = docs.drop("text").join(
            rules.filter(F.col("keep_doc")).select(
                "doc_id", F.col("text_clean").alias("text")
            ),
            "doc_id",
        )
        kept.write.mode("overwrite").parquet(args.output)
    agg = rules.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep_doc").cast("long")).alias("n_kept_docs"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_kept").alias("n_kept_lines"),
        F.sum(F.col("has_lorem").cast("long")).alias("docs_lorem"),
        F.sum(F.col("has_brace").cast("long")).alias("docs_brace"),
    ).first()
    print(json.dumps({**agg.asDict(), "output": args.output}))
    return 0


def cmd_tfidf(args) -> int:
    """Per-doc tf-idf keyword extraction (text_analysis.tfidf_topk, gated
    by txt_tfidf_topk).  Prints the corpus's most-salient terms (summed
    top-rank tf-idf); --output writes the full per-doc top-k table."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    top = text_analysis.tfidf_topk(docs, k=args.k)
    if args.output:
        top.write.mode("overwrite").parquet(args.output)
        top = spark.read.parquet(args.output)
    corpus = (
        top.groupBy("term")
        .agg(
            F.count("*").alias("docs_ranked"),
            F.round(F.sum("tfidf"), 6).alias("tfidf_sum"),
        )
        .orderBy(F.desc("tfidf_sum"), F.asc("term"))
        .limit(10)
        .collect()
    )
    print(json.dumps({
        "k": args.k,
        "n_rows": top.count(),
        "top_terms": [r.asDict() for r in corpus],
        "output": args.output,
    }))
    return 0


def cmd_lmscore(args) -> int:
    """Unigram-LM quality scoring (text_analysis.unigram_logprob, gated by
    txt_lm_score): mean per-token negative log-likelihood under the
    corpus's own unigram model.  Prints distribution stats (the numbers a
    perplexity-bucketed sampler is tuned from); --output writes the
    per-doc score table."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    scores = text_analysis.unigram_logprob(docs)
    if args.output:
        scores.write.mode("overwrite").parquet(args.output)
        scores = spark.read.parquet(args.output)
    agg = scores.agg(
        F.count("*").alias("n_docs"),
        F.round(F.min("nll"), 6).alias("nll_min"),
        F.round(F.avg("nll"), 6).alias("nll_mean"),
        F.round(F.max("nll"), 6).alias("nll_max"),
        F.round(F.expr("percentile_approx(nll, 0.95)"), 6).alias("nll_p95"),
    ).first()
    print(json.dumps({**agg.asDict(), "output": args.output}))
    return 0


def cmd_budget(args) -> int:
    """Token-budget mixture draw (text_analysis.sample_to_budget, gated by
    txt_sample_budget): per-source greedy fill in deterministic sample-key
    order.  --budgets is src=tokens[,src=tokens...]; --default-budget
    covers unlisted sources.  Prints the per-source draw audit; --output
    writes the KEPT docs."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import text_analysis

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    budgets = {}
    if args.budgets:
        for pair in args.budgets.split(","):
            src, _, b = pair.partition("=")
            budgets[src] = int(b)
    out = text_analysis.sample_to_budget(
        docs, budgets, default_budget=args.default_budget
    )
    if args.output:
        kept = docs.join(out.filter(F.col("kept")).select("doc_id"), "doc_id")
        kept.write.mode("overwrite").parquet(args.output)
    per_src = (
        out.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias(
                "tokens_kept"
            ),
        )
        .orderBy("source")
        .collect()
    )
    total = out.agg(
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0)).alias(
            "tokens_kept"
        ),
    ).first()
    print(json.dumps({
        "n_kept": total["n_kept"],
        "tokens_kept": total["tokens_kept"],
        "sources": [r.asDict() for r in per_src[:10]],
        "output": args.output,
    }))
    return 0


def cmd_urls(args) -> int:
    """URL canonicalization + domain accounting (operators/urls.py, gated
    by web_url_parse/web_url_dedup/web_domain_stats/web_domain_cap).
    Input must carry a ``url`` column (the BASELINE input_hint pages
    shape).  Prints the corpus-level audit: docs, canonical pages (dedup
    ratio), domains, unparseable URLs; --output writes the URL-deduped
    corpus (survivor rows, full original columns + norm_url); --cap N
    additionally applies the per-domain doc cap."""
    from pyspark.sql import Window, functions as F

    from elipdotter_spark.operators import urls as u

    spark = get_spark()
    docs = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    if args.block:
        blocked = [b.strip() for b in args.block.split(",") if b.strip()]
        audit = u.block_domains(docs, blocked, url_col=args.url_col)
        n_blocked = audit.filter(F.col("blocked")).count()
        docs = audit.filter(~F.col("blocked")).select(*docs.columns)
    parsed = u.parse_urls(docs, url_col=args.url_col)
    agg = parsed.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("norm_url").alias("n_pages"),
        F.countDistinct("registered_domain").alias("n_domains"),
        F.sum((F.col("norm_url") == "").cast("long")).alias("n_unparseable"),
    ).first()
    out = {**agg.asDict(), "output": args.output, "cap": args.cap}
    if args.block:
        out["n_blocked"] = n_blocked
    if args.output:
        keep = parsed.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("norm_url").orderBy(F.col(args.id_col).asc())
            ),
        ).filter((F.col("_rn") == 1) & (F.col("norm_url") != "")).drop("_rn")
        if args.cap:
            capped = u.domain_cap(
                keep.drop("scheme", "host", "registered_domain",
                          "path_depth", "n_params", "norm_url"),
                cap=args.cap, url_col=args.url_col, id_col=args.id_col,
            ).select(args.id_col)
            keep = keep.join(capped, args.id_col)
        keep.write.mode("overwrite").parquet(args.output)
        out["n_written"] = spark.read.parquet(args.output).count()
    print(json.dumps(out))
    return 0


def cmd_crawl(args) -> int:
    """Crawl front door (operators/html.py, gated by web_html_extract /
    web_recrawl_latest / web_crawl_ingest): input_hint-shaped pages
    (url, warc_ts, html, ...) -> recrawl latest-wins collapse -> HTML text
    extraction.  Prints the audit (pages in, canonical pages out, markup
    leftovers = dead-letter candidates); --output writes the documents-
    shaped result (doc_id, url, norm_url, warc_ts, lang, text_clean,
    has_markup, n_crawls)."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import html as h

    spark = get_spark()
    pages = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    out_df = h.crawl_ingest(pages, url_col=args.url_col, id_col=args.id_col)
    if getattr(args, "anchors", False):
        # anchors from the recrawl winners (see cmd_build: raw records
        # would inflate n_src_docs by recrawl count)
        out_df = h.anchor_augment(
            out_df,
            h.recrawl_latest(pages, url_col=args.url_col, id_col=args.id_col),
            id_col=args.id_col,
        )
    agg = out_df.agg(
        F.count("*").alias("n_pages"),
        F.sum("n_crawls").alias("n_crawls_in"),
        F.sum(F.col("has_markup").cast("long")).alias("n_markup_leftover"),
        F.sum(F.length("text_clean")).alias("n_chars"),
    ).first()
    out = {**agg.asDict(), "output": args.output}
    if args.output:
        out_df.write.mode("overwrite").parquet(args.output)
        out["n_written"] = spark.read.parquet(args.output).count()
    print(json.dumps(out))
    return 0


def cmd_warc(args) -> int:
    """WARC shard surface (sources/warc.py, gated by web_warc_roundtrip).

    ``warc unpack``: .warc[.gz] shards -> input_hint pages parquet
    (response records only; parse errors -> --dead-letter).
    ``warc pack``: pages parquet -> deterministic .warc.gz shards (one
    gzip member per record, Common-Crawl layout) — the export twin, so a
    corpus can round-trip through the archival format."""
    from pyspark.sql import functions as F

    from elipdotter_spark.sources import warc as warc_src

    spark = get_spark()
    if args.mode == "unpack":
        records = warc_src.read_warc(spark, args.input)
        pages, dead = warc_src.warc_pages(records)
        out = {
            "n_records": records.count(),
            "n_pages": pages.count(),
            "by_type": {
                r["warc_type"]: r["n"]
                for r in records.groupBy("warc_type")
                .agg(F.count("*").alias("n")).collect()
            },
        }
        if args.dead_letter:
            dead.write.mode("overwrite").parquet(args.dead_letter)
            out["n_dead"] = spark.read.parquet(args.dead_letter).count()
        else:
            out["n_dead"] = dead.count()
        if args.output:
            pages.write.mode("overwrite").parquet(args.output)
            out["n_written"] = spark.read.parquet(args.output).count()
    else:  # pack
        if not args.output:
            print(json.dumps({"error": "pack requires --output"}))
            return 2
        pages = spark.read.parquet(args.input)
        if args.shards:
            pages = pages.repartition(args.shards)
        n = warc_src.write_warc(
            pages, args.output, url_col=args.url_col,
            compress=not args.no_gzip,
        )
        out = {"n_shards": n, "output": args.output}
    print(json.dumps(out))
    return 0


def cmd_rank(args) -> int:
    """Domain PageRank over the crawl's outlink graph (operators/webgraph,
    gated by web_domain_rank): pages table in, (domain, rank) out; prints
    the top 10 + graph stats; --output writes the full rank table."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import webgraph

    spark = get_spark()
    pages = spark.read.parquet(args.input).repartition(
        spark.sparkContext.defaultParallelism
    )
    edges = webgraph.domain_edges(pages)
    ranks = webgraph.domain_rank(edges, iters=args.iters, damping=args.damping)
    n_edges = edges.count()
    top = ranks.orderBy(F.col("rank").desc(), "domain").limit(10).collect()
    out = {
        "n_domains": ranks.count(),
        "n_edges": n_edges,
        "iters": args.iters,
        "top": [{"domain": r.domain, "rank": r.rank} for r in top],
        "output": args.output,
    }
    if args.output:
        ranks.write.mode("overwrite").parquet(args.output)
    if getattr(args, "prior_output", None):
        # glue for `bm25 --prior`: per-DOC priors via the docmap — rank
        # scaled by n_domains so the mean prior is O(1) (a raw PageRank is
        # ~1/n and would vanish under the fusion's ln(1+prior))
        if not getattr(args, "docmap", None):
            raise SystemExit("--prior-output requires --docmap "
                             "(build --format pages --docmap)")
        dm = spark.read.parquet(args.docmap)
        n_domains = ranks.count()
        prior = (
            dm.join(
                F.broadcast(ranks),
                dm["registered_domain"] == ranks["domain"],
                "left",
            )
            .select(
                "doc_id",
                (F.coalesce(F.col("rank"), F.lit(0.0))
                 * F.lit(float(n_domains))).alias("prior"),
            )
        )
        prior.write.mode("overwrite").parquet(args.prior_output)
        out["prior_output"] = args.prior_output
    print(json.dumps(out))
    return 0


def cmd_pipeline(args) -> int:
    """End-to-end pretraining dataset build from ONE JSON config — the
    composition a 100 TB corpus actually runs, each stage the gated
    operator it names:

      read (parquet | jsonl w/ dead letter | pages: recrawl collapse ->
            HTML extraction w/ markup dead letter)
      -> [per-domain doc cap] (pages/url-bearing inputs)
      -> preprocess: [c4] -> [line dedup] -> [pii] -> clean_corpus
         (langid -> quality -> exact dedup -> near-dup canonicalization)
      -> [decontaminate vs an eval set]
      -> [token-budget mixture draw]
      -> write <output>/docs  (+ [pack]: <output>/pack chunk assignments)

    Config keys (all stages optional except input/output):
      {"input": p, "format": "parquet"|"jsonl"|"pages", "dead_letter": p,
       "anchors": true, "docmap": p,   # pages format only
       "block_domains": [d1, d2, ...], "domain_cap": N,
       "c4": true, "line_max_docs": N, "pii": true,
       "clean": {lang, min_tokens, min_stopword_ratio, jaccard, max_ring,
                 cc_checkpoint_dir},
       "decontam": {"eval": p, "n": 5},
       "budget": {"budgets": {src: tokens}, "default_budget": N},
       "pack": {"budget": 512, "buckets": 8},
       "output": dir}

    Prints one JSON line with per-stage survivor counts."""
    from pyspark.sql import functions as F

    from elipdotter_spark.operators import dedup, text_analysis

    with open(args.config) as f:
        cfg = json.load(f)
    spark = get_spark()
    stats = {}
    fmt = cfg.get("format", "parquet")
    ingested = None
    if fmt == "jsonl":
        from elipdotter_spark.sources import corpus as corpus_src

        docs, dead = corpus_src.read_docs_jsonl(spark, cfg["input"])
        if cfg.get("dead_letter"):
            dead.write.mode("overwrite").parquet(cfg["dead_letter"])
        stats["n_dead_letter"] = dead.count()
    elif fmt == "pages":
        from elipdotter_spark.operators import html as html_ops

        pages = spark.read.parquet(cfg["input"]).repartition(
            spark.sparkContext.defaultParallelism
        )
        ingested = html_ops.crawl_ingest(pages).cache()
        bad = ingested.filter(F.col("has_markup"))
        if cfg.get("dead_letter"):
            bad.write.mode("overwrite").parquet(cfg["dead_letter"])
        stats["n_crawls_in"] = pages.count()
        stats["n_markup_dead"] = bad.count()
        # page-level lang metadata deliberately dropped: clean_corpus
        # recomputes langid from the extracted text (and a carried `lang`
        # column would collide with its profile join)
        keep_cols = [
            c for c in ["doc_id", "url", "norm_url"] if c in ingested.columns
        ]
        ing_src = ingested  # anchor_augment wraps; unpersist the CACHED one
        text_col = "text_clean"
        if cfg.get("anchors"):
            # in-link anchor terms join the target page's indexable text
            # (mined from the recrawl winners — see cmd_build)
            ing_src = html_ops.anchor_augment(
                ingested, html_ops.recrawl_latest(pages)
            )
            text_col = "text_indexed"
            stats["anchors"] = True
        if cfg.get("docmap"):
            from elipdotter_spark.operators import urls as urls_ops

            urls_ops.parse_urls(
                ingested.filter(~F.col("has_markup")).select("doc_id", "url"),
                url_col="url",
            ).select(
                "doc_id", "url", "norm_url", "host", "registered_domain"
            ).write.mode("overwrite").parquet(cfg["docmap"])
            stats["docmap"] = cfg["docmap"]
        docs = ing_src.filter(~F.col("has_markup")).select(
            *keep_cols, F.col(text_col).alias("text")
        )
    else:
        docs = spark.read.parquet(cfg["input"])
    docs = cached_input = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).cache()
    stats["n_input"] = docs.count()
    if ingested is not None:
        ingested.unpersist()
    if cfg.get("block_domains"):
        from elipdotter_spark.operators import urls as urls_ops

        audit = urls_ops.block_domains(docs, list(cfg["block_domains"]))
        docs = audit.filter(~F.col("blocked")).select(*docs.columns)
        stats["after_domain_block"] = docs.count()
    if cfg.get("domain_cap"):
        from elipdotter_spark.operators import urls as urls_ops

        capped = urls_ops.domain_cap(docs, cap=int(cfg["domain_cap"]))
        docs = docs.join(capped.select("doc_id"), "doc_id")
        stats["after_domain_cap"] = docs.count()

    clean_kwargs = dict(cfg.get("clean", {}))
    cur = dedup.preprocess_corpus(
        docs,
        line_max_docs=cfg.get("line_max_docs"),
        pii=bool(cfg.get("pii")),
        c4=bool(cfg.get("c4")),
        stats=stats,
        **clean_kwargs,
    )
    if "decontam" in cfg:
        ev = spark.read.parquet(cfg["decontam"]["eval"])
        flags = dedup.decontaminate(cur, ev, n=int(cfg["decontam"].get("n", 5)))
        cur = cur.join(
            flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
        )
        stats["after_decontam"] = cur.count()
    if "budget" in cfg:
        draw = text_analysis.sample_to_budget(
            cur,
            {k: int(v) for k, v in cfg["budget"].get("budgets", {}).items()},
            default_budget=int(cfg["budget"].get("default_budget", 0)),
        )
        cur = cur.join(draw.filter(F.col("kept")).select("doc_id"), "doc_id")
        agg = draw.filter(F.col("kept")).agg(
            F.count("*").alias("n"), F.sum("n_tokens").alias("tok")
        ).first()
        stats["after_budget"] = agg["n"]
        stats["tokens_drawn"] = agg["tok"]
    out_dir = cfg["output"]
    cur.write.mode("overwrite").parquet(out_dir + "/docs")
    final = spark.read.parquet(out_dir + "/docs")
    stats["n_output"] = final.count()
    if "pack" in cfg:
        packed = text_analysis.pack_sequences(
            final,
            budget=int(cfg["pack"].get("budget", 512)),
            n_buckets=int(cfg["pack"].get("buckets", 8)),
        )
        packed.write.mode("overwrite").parquet(out_dir + "/pack")
        stats["n_chunks"] = (
            spark.read.parquet(out_dir + "/pack")
            .groupBy("bucket")
            .agg(F.max("chunk_last").alias("last"))
            .agg(F.sum(F.col("last") + 1).alias("c"))
            .first()["c"]
        )
    cached_input.unpersist()
    print(json.dumps({**stats, "output": out_dir}))
    return 0


def cmd_dedup(args) -> int:
    """Near-duplicate pipeline: minhash bands -> (bounded) candidate pairs
    -> jaccard verify -> connected components -> canonical docs.  Prints a
    one-line JSON summary; --output writes the canonical (deduplicated)
    corpus as parquet."""
    from elipdotter_spark.operators import dedup

    spark = get_spark()
    # single-file inputs give one input partition: spread BEFORE tokenize
    # (minhash + distinct_tokens both tokenize) or one core does everything
    docs = (
        spark.read.parquet(args.input)
        .repartition(spark.sparkContext.defaultParallelism)
        .cache()
    )
    n_docs = docs.count()
    strong = dedup.near_dup_pairs(
        docs, args.threshold,
        max_ring=args.max_ring if args.max_ring > 0 else None,
    ).select("a", "b")
    comps = dedup.connected_components(
        strong, checkpoint_dir=args.cc_checkpoint_dir
    ).cache()
    n_in_clusters = comps.count()
    n_clusters = comps.select("component").distinct().count()
    kept = dedup.canonical_docs(docs, comps)
    if args.output:
        kept.write.mode("overwrite").parquet(args.output)
    n_kept = kept.count()
    comps.unpersist()
    docs.unpersist()
    print(json.dumps({
        "n_docs": n_docs,
        "n_candidate_docs_in_clusters": n_in_clusters,
        "n_clusters": n_clusters,
        "n_kept": n_kept,
        "n_dropped": n_docs - n_kept,
        "threshold": args.threshold,
        "output": args.output,
    }))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="elipdotter-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--segments", type=int, default=16)
    b.add_argument("--gc-grace-sec", type=float, default=0.0,
                   help="two-phase supersede-GC window: superseded "
                        "artifact dirs are stamped .retired and deleted "
                        "only after this many seconds (sweep subcommand "
                        "or the next publish).  Set >= the max query "
                        "duration on multi-reader clusters; 0 = delete "
                        "immediately (single-process default)")
    b.add_argument("--format", choices=["parquet", "jsonl", "pages", "warc"],
                   default="parquet",
                   help="input corpus format; jsonl routes schema-bad "
                        "lines to the dead letter instead of failing; "
                        "pages runs the crawl front door (recrawl collapse "
                        "+ HTML extraction, markup rows dead-lettered); "
                        "warc parses raw .warc[.gz] shards into pages "
                        "first (record parse errors dead-lettered too)")
    b.add_argument("--dead-letter", default=None, dest="dead_letter",
                   help="with --format jsonl: write rejected lines "
                        "(raw, reason) here as parquet")
    b.add_argument("--anchors", action="store_true",
                   help="with --format pages/warc: append in-link anchor "
                        "terms to each target page's indexed text")
    b.add_argument("--docmap", default=None,
                   help="with --format pages/warc: write the doc_id <-> "
                        "url map here (query --site/--resolve-urls input)")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--distance-threshold", type=int, default=1000)
    q.add_argument("--algo", default="hamming", choices=["exact", "hamming", "jaro"])
    q.add_argument("--threshold", type=float, default=0.85)
    q.add_argument("--word-count-limit", type=int, default=1000)
    q.add_argument("--docmap", default=None,
                   help="doc_id <-> url map parquet (build --docmap); "
                        "enables --site and --resolve-urls")
    q.add_argument("--site", default=None,
                   help="restrict results to this host and its subdomains "
                        "(requires --docmap)")
    q.add_argument("--resolve-urls", action="store_true", dest="resolve_urls",
                   help="attach norm_url to each hit (requires --docmap)")
    q.add_argument("--snippets-docs", default=None, dest="snippets_docs",
                   help="documents parquet (doc_id, text): attach a "
                        "context snippet around each hit's start offset")
    q.add_argument("--snippet-width", type=int, default=30,
                   dest="snippet_width")
    q.set_defaults(fn=cmd_query)

    qb = sub.add_parser("batch")
    qb.add_argument("--index", required=True)
    qb.add_argument("--queries-file", required=True,
                    help="JSON object {query_id: query}; bm25 mode splits "
                         "each query on commas, scored mode parses the "
                         "reference grammar")
    qb.add_argument("--mode", default="scored", choices=["scored", "bm25"])
    qb.add_argument("--k", type=int, default=10)
    qb.add_argument("--distance-threshold", type=int, default=1000)
    qb.add_argument("--algo", default="exact",
                    choices=["exact", "hamming", "jaro"])
    qb.add_argument("--threshold", type=float, default=0.85)
    qb.add_argument("--word-count-limit", type=int, default=1000)
    qb.add_argument("--output", default=None)
    qb.set_defaults(fn=cmd_batch)

    m = sub.add_parser("bm25")
    m.add_argument("--index", required=True)
    m.add_argument("--terms", required=True)
    m.add_argument("--k", type=int, default=10)
    m.add_argument("--wand", action="store_true",
                   help="single-job block-max WAND over the compressed format")
    m.add_argument("--prior", default=None,
                   help="parquet with (doc_id, prior): fuse a query-"
                        "independent prior (PageRank, quality) into the "
                        "ranking — fused = bm25 + w*ln(1+prior)")
    m.add_argument("--prior-weight", type=float, default=1.0,
                   dest="prior_weight")
    m.set_defaults(fn=cmd_bm25)

    st = sub.add_parser("stream")
    st.add_argument("--input", required=True,
                    help="file-source glob/dir of incoming parquet")
    st.add_argument("--index", required=True)
    st.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (OUTSIDE the store)")
    st.add_argument("--format", choices=["docs", "pages"], default="docs")
    st.add_argument("--segment-prefix", default=None, dest="segment_prefix",
                    help="ingest-epoch prefix (default: stream/crawl by "
                         "format); a fresh checkpoint lineage against the "
                         "same store needs a distinct prefix")
    st.add_argument("--dead-letter", default=None, dest="dead_letter",
                    help="with --format pages: markup-leftover rows land "
                         "here per batch")
    st.add_argument("--docmap", default=None,
                    help="with --format pages: append the per-batch "
                         "doc_id <-> url map here (query --site input; "
                         "read with /batch-*)")
    st.add_argument("--publish", action="store_true",
                    help="refresh the published index after the drain "
                         "(delta publish, full fallback — the ingest "
                         "contract)")
    st.add_argument("--gc-grace-sec", type=float, default=0.0,
                    dest="gc_grace_sec",
                    help="reader-safe two-phase GC window for any publish "
                         "this command triggers")
    st.set_defaults(fn=cmd_stream)

    i = sub.add_parser("ingest")
    i.add_argument("--input", required=True)
    i.add_argument("--index", required=True)
    i.add_argument("--segment-id", default=None,
                   help="ledger segment id (default: ingest-<epoch-ms>)")
    i.add_argument("--max-delta-segments", type=int, default=4,
                   help="compact the delta lineage past this many "
                        "stacked delta segments (read-amplification bound; "
                        "default from the BENCH.md latency-vs-K curve)")
    i.add_argument("--compaction", default="full",
                   choices=["full", "merge", "auto"],
                   help="lineage compaction mechanism: 'full' republishes "
                        "the whole corpus (resets base+deltas); 'merge' "
                        "pairwise-merges the delta segments only — "
                        "O(delta) instead of O(corpus), base untouched; "
                        "'auto' merges while delta bytes < half the base "
                        "and full-publishes past that (zero-job fs probe)")
    i.add_argument("--gc-grace-sec", type=float, default=0.0,
                   help="two-phase supersede-GC window (see build)")
    i.set_defaults(fn=cmd_ingest)

    k = sub.add_parser("compact")
    k.add_argument("--index", required=True)
    k.add_argument("--max-superseded", type=float, default=0.3,
                   help="rewrite when the superseded-doc fraction passes "
                        "this (policy threshold; see IndexStore.maybe_compact)")
    k.add_argument("--force", action="store_true",
                   help="rewrite unconditionally (ignores the threshold)")
    k.add_argument("--no-publish", dest="publish", action="store_false",
                   help="skip the post-compaction full publish (leaves the "
                        "published snapshot stale until the next publisher run)")
    k.add_argument("--gc-grace-sec", type=float, default=0.0,
                   help="two-phase supersede-GC window (see build)")
    k.set_defaults(fn=cmd_compact, publish=True)

    t = sub.add_parser("stats")
    t.add_argument("--index", required=True)
    t.add_argument("--live", action="store_true",
                   help="also compute the superseded-doc fraction "
                        "(one Spark aggregate; default is Sparkless)")
    t.set_defaults(fn=cmd_stats)

    s = sub.add_parser("sweep")
    s.add_argument("--index", required=True)
    s.add_argument("--gc-grace-sec", type=float, required=True,
                   help="the store's grace window; retired dirs older "
                        "than this are deleted")
    s.set_defaults(fn=cmd_sweep)

    f = sub.add_parser("fsck")
    f.add_argument("--index", required=True)
    f.add_argument("--deep", action="store_true",
                   help="also cross-check meta corpus counters against "
                        "the docstats artifact's footer row counts")
    f.add_argument("--repair", action="store_true",
                   help="first complete interrupted write-ahead segment "
                        "commits (tmp->final rename, the read-path "
                        "recovery run offline); never touches orphan dirs")
    f.set_defaults(fn=cmd_fsck)

    c = sub.add_parser("clean")
    c.add_argument("--input", required=True)
    c.add_argument("--output", default=None,
                   help="write the cleaned corpus here")
    c.add_argument("--lang", default="en")
    c.add_argument("--min-tokens", type=int, default=20)
    c.add_argument("--min-stopword-ratio", type=float, default=0.0)
    c.add_argument("--threshold", type=float, default=0.8,
                   help="jaccard acceptance for near-dup pairs")
    c.add_argument("--max-ring", type=int, default=8,
                   help="bounded per-bucket pair fan-out (0 = exact all-pairs)")
    c.add_argument("--cc-checkpoint-dir", default=None,
                   help="durable dir for connected-components rounds and "
                        "the cleaned corpus (use on preemptible clusters; "
                        "default keeps state in executor block storage)")
    c.add_argument("--line-max-docs", type=int, default=None,
                   help="also run line-granular boilerplate removal FIRST: "
                        "drop lines in more than this many distinct docs "
                        "(default: stage off)")
    c.add_argument("--pii", action="store_true",
                   help="also scrub emails/IPv4s/phones (typed "
                        "placeholders) before the language/quality/dedup "
                        "stages")
    c.add_argument("--c4", action="store_true",
                   help="also run the C4 battery FIRST (line punctuation/"
                        "word-count/javascript rules, lorem/brace page "
                        "poison, min surviving lines)")
    c.set_defaults(fn=cmd_clean)

    ln = sub.add_parser("lines")
    ln.add_argument("--input", required=True)
    ln.add_argument("--output", default=None,
                    help="write the line-cleaned corpus here (text column "
                         "replaced, other columns preserved)")
    ln.add_argument("--max-docs", type=int, default=4,
                    help="drop lines appearing in MORE than this many "
                         "distinct documents")
    ln.add_argument("--sep", default="\n",
                    help="line separator (default newline)")
    ln.set_defaults(fn=cmd_lines)

    x = sub.add_parser("mix")
    x.add_argument("--input", required=True)
    x.set_defaults(fn=cmd_mix)

    z = sub.add_parser("sample")
    z.add_argument("--input", required=True)
    z.add_argument("--output", default=None,
                   help="write the sampled corpus here")
    z.add_argument("--fractions", default=None,
                   help="per-source keep fractions, e.g. src0=1.0,src1=0.5")
    z.add_argument("--default-fraction", type=float, default=0.0,
                   help="keep fraction for sources not listed in --fractions")
    z.set_defaults(fn=cmd_sample)

    pi = sub.add_parser("pii")
    pi.add_argument("--input", required=True)
    pi.add_argument("--output", default=None,
                    help="write the scrubbed corpus here (text column "
                         "replaced, other columns preserved)")
    pi.set_defaults(fn=cmd_pii)

    ng = sub.add_parser("ngrams")
    ng.add_argument("--input", required=True)
    ng.add_argument("--n", type=int, default=2, help="n-gram size (words)")
    ng.add_argument("--k", type=int, default=100, help="top-k grams to keep")
    ng.add_argument("--output", default=None,
                    help="write all k rows here (stdout shows the top 10)")
    ng.set_defaults(fn=cmd_ngrams)

    dc = sub.add_parser("decontam")
    dc.add_argument("--input", required=True, help="training corpus parquet")
    dc.add_argument("--eval", required=True, dest="eval",
                    help="held-out eval/benchmark corpus parquet")
    dc.add_argument("--n", type=int, default=5,
                    help="word n-gram size for the overlap test")
    dc.add_argument("--output", default=None,
                    help="write the decontaminated training corpus here")
    dc.set_defaults(fn=cmd_decontam)

    bk = sub.add_parser("backup")
    bk.add_argument("--index", required=True)
    bk.add_argument("--dest", required=True,
                    help="clone destination (must not exist; one atomic "
                         "rename publishes it)")
    bk.add_argument("--retries", type=int, default=3,
                    help="re-attempts when a concurrent publish moves the "
                         "store mid-copy")
    bk.set_defaults(fn=cmd_backup)

    gp = sub.add_parser("gopher")
    gp.add_argument("--input", required=True)
    gp.add_argument("--min-tokens", type=int, default=50, dest="min_tokens")
    gp.add_argument("--min-stop-hits", type=int, default=2,
                    dest="min_stop_hits")
    gp.add_argument("--stop-words", default=None, dest="stop_words",
                    help="comma-separated required stopwords (default: "
                         "Gopher's English eight)")
    gp.add_argument("--output", default=None,
                    help="write the surviving documents here")
    gp.set_defaults(fn=cmd_gopher)

    sp = sub.add_parser("spans")
    sp.add_argument("--input", required=True)
    sp.add_argument("--n", type=int, default=8,
                    help="word n-gram size (minimum detectable span length)")
    sp.add_argument("--min-docs", type=int, default=2, dest="min_docs",
                    help="distinct-document bar for a gram to count as "
                         "duplicated")
    sp.add_argument("--output", default=None,
                    help="write the (doc_id, span_start, span_end, n_grams) "
                         "table here")
    sp.add_argument("--excise-output", default=None, dest="excise_output",
                    help="also excise the spans and write the cleaned "
                         "(doc_id, n_tokens, n_removed, text_clean) corpus "
                         "here")
    sp.set_defaults(fn=cmd_spans)

    pk = sub.add_parser("pack")
    pk.add_argument("--input", required=True)
    pk.add_argument("--budget", type=int, default=512,
                    help="tokens per training sequence (context length)")
    pk.add_argument("--buckets", type=int, default=8,
                    help="independent packing buckets (parallelism unit)")
    pk.add_argument("--output", default=None,
                    help="write the per-doc chunk assignment table here")
    pk.set_defaults(fn=cmd_pack)

    c4 = sub.add_parser("c4")
    c4.add_argument("--input", required=True)
    c4.add_argument("--min-words", type=int, default=5)
    c4.add_argument("--min-kept-lines", type=int, default=3)
    c4.add_argument("--output", default=None,
                    help="write surviving pages (line-filtered text) here")
    c4.set_defaults(fn=cmd_c4)

    tf = sub.add_parser("tfidf")
    tf.add_argument("--input", required=True)
    tf.add_argument("--k", type=int, default=3,
                    help="keywords per document")
    tf.add_argument("--output", default=None,
                    help="write the per-doc top-k keyword table here")
    tf.set_defaults(fn=cmd_tfidf)

    lm = sub.add_parser("lmscore")
    lm.add_argument("--input", required=True)
    lm.add_argument("--output", default=None,
                    help="write the per-doc (n_tokens, nll) table here")
    lm.set_defaults(fn=cmd_lmscore)

    bu = sub.add_parser("budget")
    bu.add_argument("--input", required=True)
    bu.add_argument("--budgets", default=None,
                    help="per-source token budgets: src0=2000,src1=500")
    bu.add_argument("--default-budget", type=int, default=0,
                    help="token budget for sources not listed in --budgets")
    bu.add_argument("--output", default=None,
                    help="write the kept (drawn) docs here")
    bu.set_defaults(fn=cmd_budget)

    ur = sub.add_parser("urls")
    ur.add_argument("--input", required=True,
                    help="parquet with a url column (BASELINE input_hint shape)")
    ur.add_argument("--url-col", default="url")
    ur.add_argument("--id-col", default="doc_id")
    ur.add_argument("--output", default=None,
                    help="write the URL-deduped corpus (survivor rows)")
    ur.add_argument("--cap", type=int, default=0,
                    help="also cap docs per registered domain (0 = off)")
    ur.add_argument("--block", default=None,
                    help="comma-separated domain blocklist (an entry "
                         "blocks itself and all subdomains); blocked docs "
                         "are dropped before the audit/dedup")
    ur.set_defaults(fn=cmd_urls)

    cr = sub.add_parser("crawl")
    cr.add_argument("--input", required=True,
                    help="parquet pages table (url, warc_ts, html, ...)")
    cr.add_argument("--url-col", default="url")
    cr.add_argument("--id-col", default="doc_id")
    cr.add_argument("--output", default=None,
                    help="write the extracted documents-shaped corpus")
    cr.add_argument("--anchors", action="store_true",
                    help="append in-link anchor terms (anchor_text / "
                         "text_indexed columns)")
    cr.set_defaults(fn=cmd_crawl)

    wc = sub.add_parser("warc")
    wc.add_argument("mode", choices=["pack", "unpack"],
                    help="pack: pages parquet -> .warc.gz shards; "
                         "unpack: .warc[.gz] shards -> pages parquet")
    wc.add_argument("--input", required=True)
    wc.add_argument("--output", default=None,
                    help="unpack: pages parquet path; pack: shard dir")
    wc.add_argument("--url-col", default="url")
    wc.add_argument("--shards", type=int, default=None,
                    help="pack: repartition to this many shards first")
    wc.add_argument("--no-gzip", action="store_true",
                    help="pack: write uncompressed .warc shards")
    wc.add_argument("--dead-letter", default=None, dest="dead_letter",
                    help="unpack: write parse-error records here")
    wc.set_defaults(fn=cmd_warc)

    rk = sub.add_parser("rank")
    rk.add_argument("--input", required=True,
                    help="parquet pages table (url + html columns)")
    rk.add_argument("--iters", type=int, default=10)
    rk.add_argument("--damping", type=float, default=0.85)
    rk.add_argument("--output", default=None,
                    help="write the (domain, rank) table")
    rk.add_argument("--docmap", default=None,
                    help="doc_id <-> url map (build --docmap); required "
                         "for --prior-output")
    rk.add_argument("--prior-output", default=None, dest="prior_output",
                    help="write a per-DOC (doc_id, prior) table — rank * "
                         "n_domains via the docmap — ready for "
                         "`bm25 --prior`")
    rk.set_defaults(fn=cmd_rank)

    pl = sub.add_parser("pipeline")
    pl.add_argument("--config", required=True,
                    help="JSON config: input/format, preprocess toggles "
                         "(c4, line_max_docs, pii, clean), decontam, "
                         "budget, pack, output")
    pl.set_defaults(fn=cmd_pipeline)

    d = sub.add_parser("dedup")
    d.add_argument("--input", required=True)
    d.add_argument("--output", default=None,
                   help="write the canonical (deduplicated) corpus here")
    d.add_argument("--threshold", type=float, default=0.8,
                   help="jaccard acceptance for near-dup pairs")
    d.add_argument("--max-ring", type=int, default=8,
                   help="bounded per-bucket pair fan-out (0 = exact all-pairs)")
    d.add_argument("--cc-checkpoint-dir", default=None,
                   help="durable dir for connected-components rounds "
                        "(use on preemptible clusters; default keeps "
                        "rounds in executor block storage)")
    d.set_defaults(fn=cmd_dedup)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

"""BM25 top-k retrieval over the inverted index (north-rule layer).

The reference engine's relevance rating is occurrence-based (replicated in
plans.compiler); the north rule additionally asks for top-k **BM25** over the
same index. Everything here is built-in-expression JVM-side math (no Python in
the hot path):

- ``idf = ln((N - df + 0.5)/(df + 0.5) + 1)`` (Lucene/ATIRE positive variant)
- ``score(d) = sum_t idf_t * tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl))``

Scale path: per-(term, doc-range) max-impact metadata (``block_max``, carried
by the compressed blocks of ``codec.build_compressed``) enables block-max
pruning.  Single queries run ``codec.bm25_topk_wand``; query batches run
:func:`bm25_topk_blockmax_batch`, which first scores only the most promising
blocks per query to obtain a threshold theta (the k-th best score), then
scores exactly only blocks whose upper bound
``sum_t blockmax(t, block) >= theta``.  The exhaustive operators stay as the
fallback for stale blocks and as the reference the pruned plans are tested
against.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

K1 = 1.2
B = 0.75


def corpus_stats(docstats: DataFrame):
    """(N, avgdl) — one tiny job, cache the result driver-side."""
    row = docstats.agg(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return int(row.n), float(row.avgdl)


def _idf_col(n: int):
    return F.log((F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)


def term_impacts(
    postings: DataFrame,
    docstats: DataFrame,
    terms: DataFrame,
    n: int,
    avgdl: float,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Per-(term, doc) BM25 contribution — all JVM expressions."""
    idf = terms.select("term", "df").withColumn("idf", _idf_col(n))
    return (
        postings.select("term", "doc_id", "tf")
        .join(docstats, "doc_id")
        .join(F.broadcast(idf), "term")
        .withColumn(
            "impact",
            F.col("idf")
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("doc_len") / F.lit(float(avgdl)))
            ),
        )
        .select("term", "doc_id", "impact")
    )


def bm25_scores(
    postings: DataFrame,
    docstats: DataFrame,
    terms: DataFrame,
    query_terms: Sequence[str],
    n: Optional[int] = None,
    avgdl: Optional[float] = None,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Exhaustive BM25: (doc_id, score) for docs containing any query term.

    Plan shape: term-pruned posting scan -> broadcast idf join -> docstats
    join -> hash aggregate by doc (partial + final).  ``orderBy().limit(k)``
    on the result becomes TakeOrderedAndProject."""
    if n is None or avgdl is None:
        n, avgdl = corpus_stats(docstats)
    qterms = list(dict.fromkeys(query_terms))
    imp = term_impacts(
        postings.filter(F.col("term").isin(qterms)), docstats, terms, n, avgdl, k1, b
    )
    return imp.groupBy("doc_id").agg(F.sum("impact").alias("score"))


def bm25_topk(
    postings: DataFrame,
    docstats: DataFrame,
    terms: DataFrame,
    query_terms: Sequence[str],
    k: int,
    **kw,
) -> DataFrame:
    return (
        bm25_scores(postings, docstats, terms, query_terms, **kw)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_prior(
    postings: DataFrame,
    docstats: DataFrame,
    terms: DataFrame,
    query_terms: Sequence[str],
    k: int,
    prior: DataFrame,
    prior_weight: float = 1.0,
    default_prior: float = 0.0,
    digits: int = 6,
    **kw,
) -> DataFrame:
    """Web-style rank fusion: BM25 relevance + a query-INDEPENDENT document
    prior (PageRank, domain quality, freshness — any per-doc signal):

        ``fused = bm25 + prior_weight * ln(1 + prior)``

    ``prior`` is a ``(doc_id, prior)`` DataFrame (prior >= 0); documents
    missing from it get ``default_prior``.  The log damps heavy-tailed
    priors (PageRank spans orders of magnitude) so relevance stays primary;
    ``prior_weight`` trades the two signals.  Callers should pre-scale the
    prior to O(1) (e.g. rank * n_nodes, mean 1) — at web scale a raw
    PageRank is ~1/n and would vanish under the log.

    Cross-engine determinism: ordering is on the ROUNDED fused score
    (``digits``) with doc_id tiebreak — float `ln` ulps between engines
    must not flip ranks (CLAUDE.md round-6/7 rounding discipline).  The
    returned columns (score/prior/fused) are rounded the same way.

    Plan shape: the BM25 aggregate as in :func:`bm25_scores`; the prior
    joins AFTER the per-doc aggregate (k-sized vs postings-sized input) —
    at 10^12 docs the prior table is doc-count-sized, so the join is an
    ordinary co-partitioned hash join on doc_id, and the top-k compiles to
    TakeOrderedAndProject (per-partition top-k, no global sort)."""
    scores = bm25_scores(postings, docstats, terms, query_terms, **kw)
    pr = prior.select("doc_id", F.col("prior").cast("double").alias("prior"))
    fused = (
        scores.join(pr, "doc_id", "left")
        .withColumn(
            "prior", F.coalesce(F.col("prior"), F.lit(float(default_prior)))
        )
        .withColumn(
            "fused",
            F.round(
                F.col("score")
                + F.lit(float(prior_weight)) * F.log(F.lit(1.0) + F.col("prior")),
                digits,
            ),
        )
    )
    return (
        fused.orderBy(F.desc("fused"), F.asc("doc_id"))
        .limit(k)
        .select(
            "doc_id",
            F.round("score", digits).alias("score"),
            F.round("prior", digits).alias("prior"),
            "fused",
        )
    )


# ----------------------------------------------------------- batched querying
#
# A search evaluation / query-log workload runs THOUSANDS of queries against
# the same index.  Per-query Spark jobs pay the posting scan + scheduling once
# per query; the batch operators below run the WHOLE query set in one plan:
# a single term-pruned posting scan (filtered to the union of all query
# terms), fanned out to queries via a broadcast join against the tiny
# (query_id, term) table, aggregated by (query_id, doc_id), ranked per query
# with one window.  At 10^12 docs this amortizes the dominant cost — the
# scan — across the batch; everything stays JVM-side (no Python, no driver
# loop over queries).


def _queries_df(spark: SparkSession, queries: Dict[object, Sequence[str]]) -> DataFrame:
    """Normalize {query_id: [terms]} to a deduped (query_id, term) DataFrame.
    Integer and string query ids are both accepted (mixed is not)."""
    rows = [
        (qid, t)
        for qid, terms in queries.items()
        for t in dict.fromkeys(terms)
    ]
    id_type = "string" if rows and isinstance(rows[0][0], str) else "long"
    return spark.createDataFrame(rows, f"query_id {id_type}, term string")


def bm25_scores_batch(
    postings: DataFrame,
    docstats: DataFrame,
    terms: DataFrame,
    queries: Dict[object, Sequence[str]],
    n: Optional[int] = None,
    avgdl: Optional[float] = None,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Exhaustive batch BM25: (query_id, doc_id, score) for every query in
    ``queries`` — ONE posting scan for the whole batch.

    Plan shape: posting scan filtered to the union of all query terms
    (pushed ``isin``) -> broadcast idf + docstats joins -> broadcast join
    against the (query_id, term) table -> hash aggregate by
    (query_id, doc_id).  A term shared by many queries is scanned once and
    fanned out by the broadcast join, not rescanned per query."""
    spark = postings.sparkSession
    if n is None or avgdl is None:
        n, avgdl = corpus_stats(docstats)
    qdf = _queries_df(spark, queries)
    all_terms = sorted({t for ts in queries.values() for t in ts})
    imp = term_impacts(
        postings.filter(F.col("term").isin(all_terms)), docstats, terms,
        n, avgdl, k1, b,
    )
    return (
        imp.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact").alias("score"))
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k from (query_id, doc_id, score): deterministic
    (score desc, doc_id asc) ranking, one shuffle by query_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def bm25_topk_batch(
    postings: DataFrame,
    docstats: DataFrame,
    terms: DataFrame,
    queries: Dict[object, Sequence[str]],
    k: int,
    **kw,
) -> DataFrame:
    """Per-query top-k over the whole batch in one job:
    (query_id, doc_id, score, rnk), rnk in 1..k per query."""
    return _rank_topk(
        bm25_scores_batch(postings, docstats, terms, queries, **kw), k
    )


def bm25_topk_blockmax_batch(
    postings: DataFrame,
    docstats: DataFrame,
    terms: DataFrame,
    block_max: DataFrame,
    queries: Dict[object, Sequence[str]],
    k: int,
    n: int,
    avgdl: float,
    block_size: int,
    probe_blocks: int = 64,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Batched block-max pruned top-k, with theta derived PER QUERY inside
    the plan (no driver collect between phases; the whole batch is one lazy
    plan).

    ``block_max`` is (term, block, block_max) keyed by
    ``codec.range_expr(block_size)`` — in practice the compressed block
    table's own columns, so ``block_size`` MUST be the ``doc_span`` it was
    built with: a mismatched span joins impacts to the wrong block ids and
    prunes docs that belong in the top-k.

    Phase 1 probes, per query, the ``probe_blocks`` blocks with the highest
    summed block-max upper bound and scores them exactly; theta(q) is the
    k-th best probe score when the probe yielded a full k (else -inf —
    no sound threshold exists).  Phase 2 exact-scores only (query, block)
    pairs whose upper bound >= theta(q).  Identical to the exhaustive batch:
    any (q, doc) outside q's surviving blocks has
    score <= ub(block) < theta(q) <= true k-th score of q."""
    from .codec import range_expr

    spark = postings.sparkSession
    qdf = _queries_df(spark, queries)
    all_terms = sorted({t for ts in queries.values() for t in ts})

    bounds = (
        block_max.filter(F.col("term").isin(all_terms))
        .join(F.broadcast(qdf), "term")
        .groupBy("query_id", "block")
        .agg(F.sum("block_max").alias("ub"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("ub"), F.asc("block"))
    probe = (
        bounds.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= probe_blocks)
        .select("query_id", "block")
    )

    imp = term_impacts(
        postings.filter(F.col("term").isin(all_terms)), docstats, terms,
        n, avgdl, k1, b,
    ).withColumn("block", range_expr(block_size))
    fanned = imp.join(F.broadcast(qdf), "term")

    phase1 = (
        fanned.join(F.broadcast(probe), ["query_id", "block"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact").alias("score"))
    )
    # theta(q): k-th best probe score, only sound when the probe found >= k
    theta = (
        _rank_topk(phase1, k)
        .groupBy("query_id")
        .agg(F.count("*").alias("c"), F.min("score").alias("kth"))
        .select(
            "query_id",
            F.when(F.col("c") >= k, F.col("kth"))
            .otherwise(F.lit(float("-inf")))
            .alias("theta"),
        )
    )
    surviving = (
        bounds.join(F.broadcast(theta), "query_id")
        .filter(F.col("ub") >= F.col("theta"))
        .select("query_id", "block")
    )
    phase2 = (
        fanned.join(F.broadcast(surviving), ["query_id", "block"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact").alias("score"))
    )
    return _rank_topk(phase2, k)

"""Federated retrieval over SHARDED index stores — the 10^12-doc serving
shape: the corpus is doc-partitioned across many :class:`IndexStore`
shards (each built/published independently, e.g. one per crawl partition),
and a query runs against all of them with GLOBAL statistics.

Contract: shards hold **disjoint doc ids** (the natural doc-partitioned
layout; `docmap_hashed` + modular routing, or range allocation).  BM25 is
algebraic over global stats — a doc's score depends only on its own
postings/length plus (N, avgdl, df) — so federation needs exactly:

- global ``N`` / ``avgdl``: summed from the shards' META COUNTERS
  (zero Spark jobs on fresh shards; a stale shard falls back to one live
  aggregate),
- global ``df``/``cf``: the shard dictionaries re-aggregated (vocabulary-
  sized — broadcast-friendly),
- then either ONE plan over the unioned postings (exhaustive), or
  scatter-gather: per-shard block-max WAND top-k under the global stats,
  merged and cut to k (per-shard pruning stays fully effective; shard
  results are k-sized, so the merge is trivial).  Scatter-gather also
  sidesteps cross-shard block-range collisions — each shard's doc_span
  and range keys stay private to its own scorer.

The published block tables need no rebuild for federation: their
stats-drift adjustment (catalog.wand_tables) scales each surviving bound
by ``idf(n_now, df_now)/idf(n_s, df_then)`` with the CURRENT stats passed
in — global stats are just another "now", so shard bounds stay sound.

Reference: single-store query surface (src/index.rs occurrence provider);
sharding itself is beyond the reference — this is the Spark-native
scale-out of its query semantics.
"""

from __future__ import annotations

import logging
from functools import reduce
from typing import List, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)


def _shard_tables(store, allow_stale: bool = True):
    """One shard's (postings, terms, docstats, n, avgdl) through the
    published read path when fresh (meta-counter stats: zero jobs), live
    derivation otherwise.

    A stale shard's live fallback re-aggregates terms/docstats from the
    merged postings — at a 100-TB shard that is a full postings aggregate
    inside the query, so it is LOGGED, and ``allow_stale=False`` refuses
    instead (production federations should publish shards before serving
    them)."""
    from ..operators import bm25, index_build

    snap = store.snapshot()
    postings = store.merged_postings()
    if snap.stale:
        if not allow_stale:
            raise ValueError(
                f"shard {store.base!r} is stale (unpublished segments); "
                "publish it or pass allow_stale=True to derive its "
                "terms/docstats live (a full postings aggregate)"
            )
        log.warning(
            "federated shard %s is stale: deriving terms/docstats live "
            "(full postings aggregate) — publish the shard to avoid this",
            store.base,
        )
        terms = index_build.build_terms(postings)
        docstats = index_build.docstats_from_postings(postings)
        n, avgdl = bm25.corpus_stats(docstats)
    else:
        terms = snap.published_terms()
        docstats = snap.published_docstats()
        n, avgdl = snap.corpus_stats()
    return snap, postings, terms, docstats, int(n), float(avgdl)


def federated_stats(parts) -> Tuple[int, float]:
    """Global (N, avgdl) from per-shard stats — exact N, weighted-mean
    avgdl (associativity differs from a flat mean in the last ulps, the
    same magnitude the stats-drift machinery already tolerates)."""
    n = sum(p[4] for p in parts)
    if n == 0:
        return 0, 0.0
    avgdl = sum(p[4] * p[5] for p in parts) / float(n)
    return n, avgdl


def federated_terms(parts) -> DataFrame:
    """Global dictionary: per-shard (term, df, cf) re-aggregated — exact
    under the disjoint-doc-ids contract."""
    u = reduce(
        lambda a, b: a.unionByName(b),
        [p[2].select("term", "df", "cf") for p in parts],
    )
    return u.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )


def federated_tables(
    stores, allow_stale: bool = True
) -> Tuple[DataFrame, DataFrame, DataFrame, int, float]:
    """(postings, terms, docstats, n, avgdl) over all shards — the inputs
    every single-store operator (bm25_topk, batch, prior fusion) accepts
    unchanged; federation is table-level, not operator-level."""
    parts = [_shard_tables(s, allow_stale=allow_stale) for s in stores]
    postings = reduce(
        lambda a, b: a.unionByName(b),
        [p[1].select("term", "doc_id", "positions", "tf") for p in parts],
    )
    docstats = reduce(
        lambda a, b: a.unionByName(b),
        [p[3].select("doc_id", "doc_len") for p in parts],
    )
    n, avgdl = federated_stats(parts)
    return postings, federated_terms(parts), docstats, n, avgdl


def bm25_topk_federated(
    stores, query_terms: Sequence[str], k: int, allow_stale: bool = True, **kw
) -> DataFrame:
    """Exhaustive federated BM25 top-k: ONE plan over the unioned
    term-pruned posting scans with global stats."""
    from ..operators import bm25

    postings, terms, docstats, n, avgdl = federated_tables(
        stores, allow_stale=allow_stale
    )
    return bm25.bm25_topk(
        postings, docstats, terms, query_terms, k, n=n, avgdl=avgdl, **kw
    )


def bm25_topk_wand_federated(
    stores,
    query_terms: Sequence[str],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    allow_stale: bool = True,
) -> DataFrame:
    """Scatter-gather block-max WAND: each shard prunes and scores its own
    published blocks under the GLOBAL stats (global terms give the idf and
    the drift-adjustment df_now; shard-local doc_span/ranges never leave
    the shard), returns its local top-k, and the k-sized unions merge into
    the global top-k.  Equals the exhaustive federated ranking: a doc's
    score is shard-local given global stats, and the global k-th best is
    within some shard's local top-k.

    Round-7 shape: the query's (term -> idf) map under the global stats is
    collected ONCE and shared by every shard's scorer (the per-shard
    collect serialized S driver round-trips before), so the driver does no
    per-shard jobs — all shard scans execute inside the single merged
    top-k job, whose tasks interleave across shards (latency ~ max(shard),
    not sum).  A shard whose BLOCK tables are stale (ingested-but-not-
    published segments: ``snap.blocks_stale``) would silently serve an
    incomplete top-k through wand_tables — such shards fall back to the
    exhaustive per-shard BM25 aggregate under the same global stats
    (logged; the single-store CLI wand path guards the same way), so the
    merged ranking stays complete."""
    from ..operators import bm25, codec
    from ..operators.bm25 import _idf_col

    parts = [_shard_tables(s, allow_stale=allow_stale) for s in stores]
    n, avgdl = federated_stats(parts)
    gterms = federated_terms(parts)
    gterms = gterms.cache()  # scalar-shaped dictionary: reused per shard
    try:
        qterms = list(dict.fromkeys(query_terms))
        idf_map = {
            r.term: float(r.idf)
            for r in gterms.filter(F.col("term").isin(qterms))
            .select("term", _idf_col(n).alias("idf"))
            .collect()
        }
        shard_topks = []
        for store, p in zip(stores, parts):
            snap = p[0]
            if snap.blocks_stale:
                # wand_tables only resolves PUBLISHED blocks — a blocks-
                # stale shard would drop its unpublished docs from the
                # top-k with no error.  Exhaustive aggregate over the
                # shard's resolved postings under global stats instead.
                log.warning(
                    "federated shard %s has stale block tables: scoring "
                    "it exhaustively (publish the shard to restore WAND "
                    "pruning)",
                    store.base,
                )
                shard_topks.append(
                    bm25.bm25_topk(
                        p[1], p[3], gterms, qterms, k, n=n, avgdl=avgdl,
                        k1=k1, b=b,
                    ).select("doc_id", "score")
                )
                continue
            comp, dlb = snap.wand_tables(gterms, n, avgdl)
            shard_topks.append(
                codec.bm25_topk_wand(
                    comp, dlb, gterms, qterms, k, n, avgdl, k1=k1, b=b,
                    idf_map=idf_map,
                )
            )
        merged = reduce(lambda a, b: a.unionByName(b), shard_topks)
        # rounded ordering: a blocks-stale shard scores through Spark's
        # sum, the others through the numpy kernel — equal docs may differ
        # in the last ulps, and the k-boundary must not depend on which
        # path accumulated them
        rows = (
            merged.orderBy(F.desc(F.round("score", 6)), F.asc("doc_id"))
            .limit(k)
            .collect()
        )
        # eager k-row result (the pruned-topk pattern): execution happens
        # here so the dictionary cache can be dropped before returning
        spark = gterms.sparkSession
        return spark.createDataFrame(rows, "doc_id long, score double")
    finally:
        gterms.unpersist()

"""Independent answer checks, run outside every timed interval.

- BM25 (WAND and the batched call): DuckDB over the store's own segment
  parquet files, latest-wins by ``seq``, ranked by the score rounded to 6
  digits with ``doc_id`` breaking ties.
- Scored and fuzzy ``topk``: the pure-Python reference port
  ``core.oracle`` over the same document texts.
- Freshness probe: the batch's marker docs must all be returned.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np

from elipdotter_spark.core import oracle
from elipdotter_spark.core.parser import parse
from elipdotter_spark.core.similarity import EXACT, HAMMING

K1, B = 1.2, 0.75
DIGITS = 6


def _ranked(pairs: Iterable[Tuple[int, float]], k: int) -> List[Tuple[int, float]]:
    rows = [(int(d), round(float(s), DIGITS)) for d, s in pairs]
    return sorted(rows, key=lambda r: (-r[1], r[0]))[:k]


class Bm25Reference:
    """Exhaustive BM25 in DuckDB over the segment files a store lists."""

    def __init__(self):
        import duckdb

        self.con = duckdb.connect()

    def scores(self, seg_dirs: Sequence[str], queries: Dict[object, Sequence[str]]):
        """{query_id: {doc_id: score}} over every doc holding a query term."""
        files = ", ".join(f"'{d}/*.parquet'" for d in seg_dirs)
        qrows = ", ".join(
            f"({i}, '{t}')"
            for i, terms in enumerate(queries.values())
            for t in dict.fromkeys(terms)
        )
        sql = f"""
            WITH p AS (SELECT term, doc_id, tf, seq
                       FROM read_parquet([{files}], union_by_name = true)),
            live AS (SELECT doc_id, max(seq) AS seq FROM p GROUP BY doc_id),
            lp AS (SELECT term, doc_id, tf FROM p JOIN live USING (doc_id, seq)),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM lp GROUP BY doc_id),
            st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
            q(qi, term) AS (VALUES {qrows}),
            df AS (SELECT term, count(*) AS df FROM lp
                   WHERE term IN (SELECT term FROM q) GROUP BY term)
            SELECT qi, doc_id,
                   sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * ({K1} + 1.0)
                       / (tf + {K1} * (1.0 - {B} + {B} * dl / avgdl))) AS score
            FROM q JOIN lp USING (term) JOIN df USING (term)
                   JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY qi, doc_id
        """
        keys = list(queries)
        out: Dict[object, Dict[int, float]] = {q: {} for q in keys}
        for qi, doc, score in self.con.execute(sql).fetchall():
            out[keys[qi]][int(doc)] = float(score)
        return out

    def close(self) -> None:
        self.con.close()


def bm25_matches(got: Sequence[Tuple[int, float]], want: Dict[int, float], k: int) -> bool:
    """``got`` (doc_id, score) equals the reference top-k under the
    rounding convention.  A tie split differently at the 6th digit still
    passes when every position's score and every returned doc's own
    reference score agree within 1e-6."""
    g = _ranked(got, k)
    w = _ranked(want.items(), k)
    if g == w:
        return True
    if len(g) != len(w) or len({d for d, _ in g}) != len(g):
        return False
    tol = 1.5 * 10 ** -DIGITS
    return all(
        abs(gs - ws) <= tol and d in want and abs(want[d] - gs) <= tol
        for (d, gs), (_, ws) in zip(g, w)
    )


class ScoredReference:
    """``core.oracle`` over the live document texts, exact and fuzzy."""

    def __init__(self, fuzzy_threshold: float, word_count_limit: int):
        self.exact = oracle.Index(1.0, EXACT, word_count_limit)
        self.fuzzy = oracle.Index(fuzzy_threshold, HAMMING, word_count_limit)
        self.fuzzy.words = self.exact.words  # one posting map, two raters

    def put(self, docs: Iterable[Tuple[int, str]]) -> None:
        """Insert or replace documents (latest wins)."""
        docs = list(docs)
        words = self.exact.words
        ids = {d for d, _ in docs}
        for term in list(words):
            for d in ids.intersection(words[term]):
                del words[term][d]
            if not words[term]:
                del words[term]
        for d, text in docs:
            self.exact.digest_document(d, text)

    def topk(self, query: str, fuzzy: bool, k: int, distance: int):
        idx = self.fuzzy if fuzzy else self.exact
        ast = parse(query)
        prox = idx.proximate_map(ast)
        hits = oracle.occurrences_pipeline(
            ast, lambda w: oracle.lossless_occurrences(idx, prox, w), distance
        )
        rows = [(h.doc_id, h.start, float(np.float32(h.rating))) for h in hits]
        return sorted(rows, key=lambda r: (-r[2], r[0], r[1]))[:k]

"""Seeded inputs for the two workloads.

Everything here is pure Python driven by one ``random.Random(seed)``: the
same seed gives the same query stream and the same update batches.  The
corpus itself comes from ``sources.corpus.zipf_corpus`` (same seed), whose
vocabulary is ``t<rank>``.  Rank 1 never occurs (the generator's rank is
``floor(V**u) + 1 >= 2``), so the head starts at rank 2.
"""

from __future__ import annotations

import math
import random
from typing import Dict, List, Tuple

# Zipf ranks per workload.  At 2000 docs x 80 tokens, rank r occurs about
# 1.9e4 / r times: ranks 2..51 sit in 17-100 % of the docs, ranks
# 1000..4999 in about 4-19 docs.
HEAD_RANKS = range(2, 52)
TAIL_RANKS = range(1000, 5000)
# fuzzy words need >= 3 characters for the prefix expansion to apply
# (core.similarity.rate_candidate): ``t10``..``t51`` expand to
# ``t100``..``t519x`` on head, 5-character tail words to their 1-edit
# neighbours at the benchmark's hamming threshold
FUZZY_HEAD_RANKS = range(10, 52)

QUERY_TYPES = ("bm25", "scored", "fuzzy", "batch")
# a measured round holds BM25 twice: it is the main query path, the
# cheapest query and the one whose latency spread most between runs
ROUND = ("bm25", "bm25", "scored", "fuzzy", "batch")


class QueryGen:
    """Query stream over one rank band, "head" or "tail"."""

    def __init__(self, rng: random.Random, band: str):
        self.rng = rng
        self.band = band

    def _rank(self, fuzzy: bool = False) -> int:
        if self.band == "tail":
            return self.rng.choice(TAIL_RANKS)
        return self.rng.choice(FUZZY_HEAD_RANKS if fuzzy else HEAD_RANKS)

    def words(self, n: int, fuzzy: bool = False) -> List[str]:
        out: List[str] = []
        while len(out) < n:
            w = f"t{self._rank(fuzzy)}"
            if w not in out:
                out.append(w)
        return out

    # Every query of a type has the same shape, so a run's few samples
    # cost the same whichever words its seed draws.

    def bm25_terms(self) -> List[str]:
        return self.words(3)

    def scored_query(self) -> str:
        """AND, OR and NOT in one query."""
        a, b, c, d = self.words(4)
        return f"({a} or {b}) {c} -{d}"

    def fuzzy_query(self) -> str:
        a, b = self.words(2, fuzzy=True)
        return f"{a} or {b}"

    def batch(self, n: int) -> Dict[int, List[str]]:
        return {i: self.words(2) for i in range(n)}

    def round_order(self, types=ROUND) -> List[str]:
        order = list(types)
        self.rng.shuffle(order)
        return order


def zipf_rank(rng: random.Random, vocab: int) -> int:
    """The corpus generator's inverse-CDF rank: floor(V**u) + 1."""
    return min(vocab, max(1, math.floor(vocab ** rng.random()) + 1))


def update_batch(
    rng: random.Random,
    batch_no: int,
    seed: int,
    n_base: int,
    size: int,
    doc_len: int,
    vocab: int,
) -> Tuple[str, List[Tuple[int, str]]]:
    """One ingest batch: half new doc ids, half re-ingested ones, each
    doc carrying the batch's marker word once.  Returns (marker, rows)."""
    marker = f"fresh{seed}x{batch_no}"
    n_new = size // 2
    new_ids = [n_base + batch_no * n_new + j for j in range(n_new)]
    old_ids = rng.sample(range(n_base), size - n_new)
    rows = []
    for doc_id in sorted(new_ids + old_ids):
        words = [f"t{zipf_rank(rng, vocab)}" for _ in range(doc_len - 1)]
        words.insert(rng.randrange(doc_len), marker)
        rows.append((doc_id, " ".join(words)))
    return marker, rows

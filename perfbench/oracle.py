"""Correctness gates, run outside the timed region on collected results.

Expected answers come from pure-Python references over the generated
corpus, never from the engine's own tables:

* WAND and batch top-k: ``functions.bm25.Bm25Oracle``.
* Phrases: a brute-force positional scan, scored as BM25 over the phrase's
  unique terms (the engine's phrase scoring).

For an updated but not yet compacted index the collection statistics still
count every posting physically present (tombstoned docs included), so the
reference is built over every doc ever written and tombstoned ids are only
removed from the ranking.
"""

from __future__ import annotations

from unichem2index_spark.functions.bm25 import Bm25Oracle

SCORE_TOL = 1.5e-6  # the engine rounds scores to 6 decimals


class Reference:
    def __init__(self, docs: list[dict], dead: frozenset[int] = frozenset()):
        """``docs``: dicts with ``doc_id`` and ``text`` (every doc whose
        postings are in the index); ``dead``: tombstoned doc ids."""
        self.tokens = {d["doc_id"]: d["text"].split() for d in docs}
        self.oracle = Bm25Oracle(list(self.tokens.items()))
        self.dead = dead

    def _rank(self, scored: dict[int, float], k: int) -> list[tuple[int, float]]:
        live = [(d, s) for d, s in scored.items() if d not in self.dead]
        live.sort(key=lambda p: (-p[1], p[0]))
        return live[:k]

    def topk(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        o = self.oracle
        every = o.topk(terms, len(o.doclen))
        return self._rank(dict(every), k)

    def phrase_topk(self, phrase: list[str], k: int) -> list[tuple[int, float]]:
        uniq = sorted(set(phrase))
        n = len(phrase)
        hits = {}
        for doc_id, toks in self.tokens.items():
            if any(toks[i : i + n] == phrase for i in range(len(toks) - n + 1)):
                hits[doc_id] = self.oracle.score_doc(uniq, doc_id)
        return self._rank(hits, k)


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Identical doc ids in identical order, scores equal to the engine's
    6-decimal output precision."""
    return len(got) == len(want) and all(
        gd == wd and abs(gs - ws) <= SCORE_TOL
        for (gd, gs), (wd, ws) in zip(got, want)
    )


def rows_to_ranking(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]

"""Block-max WAND top-k kernel (pure Python; runs per doc-shard inside
``applyInArrow``, on cursors built from the shard's Arrow columns).

This is the query half the reference delegates to Lucene (the BM25 scorer
behind extractor/loader.go:260-261). Algorithm: WAND pivot selection with
term-level max-score upper bounds, refined by per-block max scores (BMW);
exact rescoring at the pivot. Safety: candidates are pruned only when their
upper bound is STRICTLY below the current threshold, so results are exactly
the brute-force top-k including (score desc, doc_id asc) tie-breaks.
"""

from __future__ import annotations

import heapq
from bisect import bisect_left
from collections.abc import Callable
from dataclasses import dataclass, field

from unichem2index_spark.functions.bm25 import score_term
from unichem2index_spark.functions.codec import PostingBlock

INF = float("inf")


@dataclass
class TermBlocks:
    """One term's posting blocks within one shard, sorted by block_id.

    ``blk_cache`` maps block index → decoded :class:`PostingBlock` and is
    SHARED between :meth:`fresh` clones: decoded blocks are immutable, so
    a batch running many queries over the same shard decodes each block
    at most once instead of once per query. Cursor state (``bi``/``pi``)
    stays per-instance."""

    term: str
    idf: float
    max_doc_ids: list[int]  # per block
    block_max_scores: list[float]  # per block
    enc_blocks: list[tuple[bytes, bytes, bytes]]  # (doc_gaps, tfs, dls)
    # iterator state
    bi: int = 0  # current block index
    pi: int = 0  # position within decoded block
    max_score: float = 0.0
    blk_cache: dict = field(default_factory=dict, repr=False)
    _cur_bi: int = field(default=-1, repr=False)
    _cur_blk: PostingBlock | None = field(default=None, repr=False)

    def __post_init__(self):
        self.max_score = max(self.block_max_scores) if self.block_max_scores else 0.0

    def fresh(self) -> "TermBlocks":
        """Rewound cursor over the SAME immutable blocks + decode cache —
        what a batch caller hands each query (wand_topk advances cursor
        state, so instances cannot be reused directly)."""
        return TermBlocks(
            term=self.term,
            idf=self.idf,
            max_doc_ids=self.max_doc_ids,
            block_max_scores=self.block_max_scores,
            enc_blocks=self.enc_blocks,
            blk_cache=self.blk_cache,
        )

    # -- cursor ------------------------------------------------------------
    def _block(self) -> PostingBlock:
        if self._cur_bi != self.bi:
            blk = self.blk_cache.get(self.bi)
            if blk is None:
                blk = PostingBlock.decode(*self.enc_blocks[self.bi])
                self.blk_cache[self.bi] = blk
            self._cur_blk = blk
            self._cur_bi = self.bi
        return self._cur_blk

    def cur_doc(self) -> float:
        if self.bi >= len(self.enc_blocks):
            return INF
        return self._block().doc_ids[self.pi]

    def cur_block_max(self) -> float:
        if self.bi >= len(self.enc_blocks):
            return 0.0
        return self.block_max_scores[self.bi]

    def cur_block_last_doc(self) -> float:
        if self.bi >= len(self.enc_blocks):
            return INF
        return self.max_doc_ids[self.bi]

    def advance_to(self, target: int) -> None:
        """Move cursor to first doc_id >= target (block skipping via
        max_doc_id metadata — decodes only the landing block)."""
        if self.bi >= len(self.enc_blocks):
            return
        if self.max_doc_ids[self.bi] < target:
            nb = bisect_left(self.max_doc_ids, target, self.bi + 1)
            self.bi, self.pi = nb, 0
            if self.bi >= len(self.enc_blocks):
                return
        blk = self._block()
        self.pi = bisect_left(blk.doc_ids, target, self.pi)
        if self.pi >= len(blk.doc_ids):  # target beyond this block's docs
            self.bi += 1
            self.pi = 0
            if self.bi < len(self.enc_blocks):
                self.advance_to(target)

    def score_at(self, doc_id: int, avgdl: float) -> float:
        """Exact contribution if cursor is on doc_id, else 0."""
        if self.cur_doc() != doc_id:
            return 0.0
        blk = self._block()
        return score_term(blk.tfs[self.pi], blk.dls[self.pi], avgdl, self.idf)


def wand_topk(
    terms: list[TermBlocks],
    avgdl: float,
    k: int,
    deleted: frozenset[int] | set[int] | None = None,
    allowed: frozenset[int] | set[int] | None = None,
    min_match: int = 1,
    after: tuple[float, int] | None = None,
    mult: "dict[int, float] | Callable[[int], float | None] | None" = None,
    mult_bound: float = 1.0,
) -> list[tuple[int, float]]:
    """Exact top-k (doc_id, score) over the given term cursors.

    ``deleted``: tombstoned doc_ids (Lucene live-docs analog) — their
    postings are still in the blocks (until compaction) but they are
    skipped at evaluation, never entering the top-k. Bound sums may still
    include them; that only loosens pruning, never correctness.

    ``allowed``: when not None, only these doc_ids may enter the top-k —
    the ES bool-filter / Lucene per-segment filter-bitset analog. Like
    ``deleted`` it is applied at evaluation time; scoring stats are
    untouched (ES filter contexts don't affect relevance).

    ``min_match``: ES ``minimum_should_match`` — a doc is eligible only
    if at least this many DISTINCT query terms occur in it. Like the two
    eligibility sets above it is enforced at evaluation time only, so
    every max-score/block-max bound stays admissible (excluding docs can
    only raise pruning opportunities, never drop a true top-k member).

    ``after``: ES ``search_after`` cursor ``(raw_score, doc_id)`` — only
    docs that rank strictly AFTER the cursor in (score desc, doc_id asc)
    order may enter the top-k. Same eligibility-at-evaluation pattern as
    the sets above: Lucene's PagingFieldCollector likewise evaluates a
    competitive doc and then discards it if it sorts at-or-before the
    cursor, so pruning bounds are untouched and remain admissible.

    ``mult`` / ``mult_bound``: per-doc final-score multiplier (ES
    ``function_score`` field_value_factor served through the kernel).
    Every block/max bound is a bound on the RAW BM25 sum, so comparing
    ``bound * mult_bound`` (a global upper bound on the multiplier)
    against the threshold keeps pruning admissible for the multiplied
    scores; the evaluated score is ``raw * mult[doc]``. ``mult`` may be
    a dict (doc-values frame cogrouped per shard) or a CALLABLE
    (closed-form multipliers like seeded random_score — zero shuffle).
    Dict-absent / callable-None docs are ineligible (a dict built from
    live docs folds tombstones in for free). ``mult_bound`` is inflated by one part
    in 10^12 at entry so float rounding in the comparison products can
    only LOOSEN pruning, never drop a boundary-tied true top-k member.

    Returns sorted by (score desc, doc_id asc).
    """
    if k <= 0 or not terms:
        return []
    deleted = deleted or frozenset()
    mb = mult_bound * (1.0 + 1e-12) if mult is not None else 1.0
    # cursor in heap-key space: a doc qualifies iff its (score, -doc_id)
    # key is strictly below the cursor's (ranked after it).
    after_key = (after[0], -after[1]) if after is not None else None
    # heap of (score, -doc_id): heap[0] is the currently-worst kept result
    heap: list[tuple[float, int]] = []
    threshold = -INF

    # `canon` = surviving cursors in CANONICAL (term-sorted) order — the
    # fixed accumulation order for full evaluations; `live` is the same
    # set re-sorted by position for pivoting. Canon is refiltered only
    # when a cursor exhausts (<= n_terms times total).
    canon = sorted(
        (t for t in terms if t.enc_blocks), key=lambda t: t.term
    )
    live = list(canon)
    while True:
        new_live = [t for t in live if t.cur_doc() != INF]
        if len(new_live) != len(live):
            canon = [t for t in canon if t.cur_doc() != INF]
        live = new_live
        if not live:
            break
        live.sort(key=lambda t: t.cur_doc())
        # WAND pivot: smallest doc where the sum of term max-scores could
        # beat the threshold.
        # >= not >: a doc whose bound EQUALS the threshold can still enter
        # the top-k through the doc_id-asc tie-break.
        acc = 0.0
        pivot_idx = -1
        for i, t in enumerate(live):
            acc += t.max_score
            if acc * mb >= threshold:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # no doc can make it into the top-k
        pivot_doc = int(live[pivot_idx].cur_doc())

        if live[0].cur_doc() == pivot_doc:
            # Block-max refinement: sum of CURRENT block maxima for terms
            # whose cursor sits at the pivot's block range.
            bm_sum = 0.0
            for t in live:
                if t.cur_doc() > pivot_doc:
                    break
                bm_sum += t.cur_block_max()
            if len(heap) >= k and bm_sum * mb < threshold:
                # BMW next-candidate (Ding & Suel): skip to the shallowest
                # aligned block boundary + 1, but never past the first
                # non-aligned cursor — docs beyond it can score through
                # terms whose block maxima were NOT in bm_sum.
                boundary = min(
                    t.cur_block_last_doc() for t in live if t.cur_doc() <= pivot_doc
                )
                nxt_other = min(
                    (t.cur_doc() for t in live if t.cur_doc() > pivot_doc),
                    default=INF,
                )
                target = min(boundary + 1, nxt_other)
                if target == INF:
                    break
                target = int(target)
                for t in live:
                    if t.cur_doc() < target:
                        t.advance_to(target)
                continue
            if pivot_doc in deleted or (
                allowed is not None and pivot_doc not in allowed
            ):
                for t in live:
                    if t.cur_doc() == pivot_doc:
                        t.advance_to(pivot_doc + 1)
                continue
            # Full evaluation at the pivot — accumulate in the CALLER's
            # cursor order (every caller builds cursors sorted by term),
            # never in `live`'s position-sorted order: float addition
            # isn't associative, and a position-dependent sum order gave
            # two IDENTICAL docs sums 1 ulp apart (hypothesis-found),
            # flipping the (score desc, doc_id asc) tie against the
            # oracle. Canonical order makes equal docs bit-equal.
            s = 0.0
            n_hit = 0
            for t in canon:
                if t.cur_doc() == pivot_doc:
                    n_hit += 1
                    s += t.score_at(pivot_doc, avgdl)
            m_ok = True
            if mult is not None:
                m = mult(pivot_doc) if callable(mult) else mult.get(pivot_doc)
                if m is None:
                    m_ok = False
                else:
                    s *= m
            if m_ok and n_hit >= min_match and (
                after_key is None or (s, -pivot_doc) < after_key
            ):
                cand = (s, -pivot_doc)
                if len(heap) < k:
                    heapq.heappush(heap, cand)
                elif cand > heap[0]:
                    heapq.heapreplace(heap, cand)
                if len(heap) >= k:
                    threshold = heap[0][0]
            for t in live:
                if t.cur_doc() == pivot_doc:
                    t.advance_to(pivot_doc + 1)
        else:
            # Advance a term that is STRICTLY before the pivot (else no
            # progress); among those, the one with the largest max_score
            # (classic WAND advance heuristic).
            lag = max(
                (t for t in live if t.cur_doc() < pivot_doc),
                key=lambda t: t.max_score,
            )
            lag.advance_to(pivot_doc)

    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda p: (-p[1], p[0]))
    return out


def maxscore_topk(
    terms: list[TermBlocks],
    avgdl: float,
    k: int,
    deleted: frozenset[int] | set[int] | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k via the MaxScore strategy (Turtle & Flood, IPM'95) —
    the OTHER dynamic-pruning kernel Lucene ships next to WAND (Lucene's
    ``MaxScoreBulkScorer``, picked for long-postings disjunctions where
    pivoting thrash makes WAND lose). Rank- and score-identical to
    :func:`wand_topk` and to the brute-force oracle, including the
    (score desc, doc_id asc) tie-break.

    Strategy: sort terms by term-level max-score ascending; the maximal
    prefix whose cumulative upper bound is STRICTLY below the current
    heap threshold is "non-essential" — no doc containing only those
    terms can enter the top-k, so candidate generation iterates the
    essential suffix's postings only. Non-essential cursors move lazily,
    probed per-candidate in descending-bound order with early exit the
    moment the remaining bound cannot reach the threshold. As the heap
    threshold rises, the non-essential prefix grows monotonically —
    MaxScore's pruning improves mid-query, exactly the behavior that
    makes it the stable choice on heavy disjunctions.

    Two float-safety details shared with the WAND kernel: (1) full
    evaluations accumulate in CANONICAL term-sorted order so equal docs
    are bit-equal across kernels/engines (the tie-break depends on it);
    (2) every skip comparison inflates the upper bound by one part in
    1e12 so float rounding in the bound sums can only LOOSEN pruning,
    never drop a threshold-tied true top-k member.

    Ref analog: the reference delegates this entirely to Lucene
    (extractor/loader.go:260-261); this kernel and wand_topk are the
    from-scratch twins of the two scorers Lucene chooses between.
    """
    if k <= 0 or not terms:
        return []
    deleted = deleted or frozenset()
    slack = 1.0 + 1e-12  # bound inflation: rounding may only loosen
    heap: list[tuple[float, int]] = []
    threshold = -INF
    canon = sorted(
        (t for t in terms if t.enc_blocks), key=lambda t: t.term
    )
    if not canon:
        return []
    # MaxScore partition order: ascending term upper bound (ties broken
    # by term so the split is deterministic across runs/shards).
    by_ub = sorted(canon, key=lambda t: (t.max_score, t.term))
    prefix = [0.0]
    for t in by_ub:
        prefix.append(prefix[-1] + t.max_score)
    ne = 0  # by_ub[:ne] is the non-essential prefix

    def repartition() -> int:
        """Largest prefix whose cumulative bound cannot beat the
        threshold (strict <, inflated): grows monotonically with the
        threshold. Never the full set while a candidate could win —
        if every prefix qualifies the query is fully pruned."""
        i = ne
        while i < len(by_ub) and prefix[i + 1] * slack < threshold:
            i += 1
        return i

    while True:
        doc = INF
        for t in by_ub[ne:]:
            d = t.cur_doc()
            if d < doc:
                doc = d
        if doc == INF:
            # every remaining doc lives only in non-essential lists and
            # is bounded by prefix[ne] < threshold: done.
            break
        doc = int(doc)
        ess_at = [t for t in by_ub[ne:] if t.cur_doc() == doc]
        if doc in deleted:
            for t in ess_at:
                t.advance_to(doc + 1)
            continue
        # Exact essential partial + conservative non-essential bound.
        s_ess = 0.0
        for t in ess_at:
            s_ess += t.score_at(doc, avgdl)
        bound = s_ess + prefix[ne]
        skip = len(heap) >= k and bound * slack < threshold
        if not skip:
            # Probe non-essential lists, best bound first; each probe
            # replaces that term's upper bound with its exact
            # contribution (0 if absent), exiting as soon as the doc
            # provably cannot reach the threshold.
            for t in reversed(by_ub[:ne]):
                t.advance_to(doc)
                bound += t.score_at(doc, avgdl) - t.max_score
                if len(heap) >= k and bound * slack < threshold:
                    skip = True
                    break
        if not skip:
            s = 0.0
            for t in canon:  # canonical order: see docstring
                s += t.score_at(doc, avgdl)
            cand = (s, -doc)
            if len(heap) < k:
                heapq.heappush(heap, cand)
            elif cand > heap[0]:
                heapq.heapreplace(heap, cand)
            if len(heap) >= k and heap[0][0] > threshold:
                threshold = heap[0][0]
                ne = repartition()
        for t in ess_at:
            t.advance_to(doc + 1)

    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda p: (-p[1], p[0]))
    return out

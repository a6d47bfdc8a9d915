"""Positional query kernels with block skipping (pure Python; each runs
per doc-shard inside ``applyInArrow``).

As in Lucene, where every positional query runs on one conjunction and
adds only its position check, each ``*_match_topk`` kernel here is its
position predicate between two shared helpers:

* :func:`_intersect` — rarest-group-first doc-id intersection. A group
  is a list of member terms whose postings are unioned (a ``span_or``
  clause, a prefix expansion); a plain term is a one-member group. The
  rarest group (summed shard-local df) is decoded in full — it bounds
  the intersection; every other member is probed candidate-by-candidate
  through its per-block ``max_doc_id`` (monotone bisect, lo-anchored =>
  galloping), so only blocks that can hold a candidate are decoded.
* :func:`_bag_topk` — scores the accepted candidates as a BM25 bag over
  ordered ``(members, idf)`` slots, tf summed over the members present,
  and cuts the top k by (score desc, doc_id asc).

Predicates decode positions lazily, only for blocks holding a surviving
candidate, so a stopword in a query costs O(|candidates|) of its
postings, never its per-shard df. ``DecodeStats`` counts decoded
postings/positions so tests can assert the skipping happens.
"""

from __future__ import annotations

from bisect import bisect_left
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from itertools import product

from unichem2index_spark.functions.bm25 import score_term
from unichem2index_spark.functions.codec import PostingBlock, decode_positions


@dataclass
class DecodeStats:
    """Per-term decode counters (postings = doc entries, positions =
    individual token positions)."""

    postings: dict[str, int] = field(default_factory=dict)
    positions: dict[str, int] = field(default_factory=dict)

    def add_postings(self, term: str, n: int) -> None:
        self.postings[term] = self.postings.get(term, 0) + n

    def add_positions(self, term: str, n: int) -> None:
        self.positions[term] = self.positions.get(term, 0) + n


@dataclass
class PosTermPostings:
    """One term's positional posting blocks within one shard, ordered by
    (gen, block_id) — doc_ids are globally increasing across the list
    (generations append strictly larger ids; replaced docs are
    tombstoned, not renumbered)."""

    term: str
    max_doc_ids: list[int]  # per block
    enc_blocks: list[tuple[bytes, bytes, bytes, bytes]]  # gaps,tfs,dls,pos
    df: int  # shard-local doc count (sum of block n_docs)
    stats: DecodeStats | None = None
    _blk: dict[int, PostingBlock] = field(default_factory=dict, repr=False)
    _pos: dict[int, list[list[int]]] = field(default_factory=dict, repr=False)

    def _block(self, bi: int) -> PostingBlock:
        blk = self._blk.get(bi)
        if blk is None:
            gaps, tfs, dls, _ = self.enc_blocks[bi]
            blk = PostingBlock.decode(bytes(gaps), bytes(tfs), bytes(dls))
            self._blk[bi] = blk
            if self.stats is not None:
                self.stats.add_postings(self.term, len(blk.doc_ids))
        return blk

    def all_docs(self) -> dict[int, tuple[int, int]]:
        """doc_id -> (tf, dl) over ALL blocks (used for the rarest term
        only — it bounds the whole intersection)."""
        out: dict[int, tuple[int, int]] = {}
        for bi in range(len(self.enc_blocks)):
            blk = self._block(bi)
            for d, tf, dl in zip(blk.doc_ids, blk.tfs, blk.dls):
                out[d] = (tf, dl)
        return out

    def lookup_many(self, sorted_ids: list[int]) -> dict[int, tuple[int, int]]:
        """(tf, dl) for each candidate present in this term's postings.
        Decodes only blocks whose [.., max_doc_id] range is hit by a
        candidate; bisect anchored at the previous block index makes the
        scan one forward pass (galloping)."""
        out: dict[int, tuple[int, int]] = {}
        bi = 0
        n_blocks = len(self.enc_blocks)
        for d in sorted_ids:
            bi = bisect_left(self.max_doc_ids, d, bi)
            if bi >= n_blocks:
                break
            blk = self._block(bi)
            j = bisect_left(blk.doc_ids, d)
            if j < len(blk.doc_ids) and blk.doc_ids[j] == d:
                out[d] = (blk.tfs[j], blk.dls[j])
        return out

    def positions_of(self, doc_id: int) -> list[int]:
        """Token positions of ``doc_id`` — decodes (and caches) the
        positions blob of the ONE block containing it. Caller guarantees
        the doc is present (it survived the doc-id intersection)."""
        bi = bisect_left(self.max_doc_ids, doc_id)
        plists = self._pos.get(bi)
        if plists is None:
            blk = self._block(bi)
            blob = self.enc_blocks[bi][3]
            plists = decode_positions(bytes(blob), blk.tfs)
            self._pos[bi] = plists
            if self.stats is not None:
                self.stats.add_positions(self.term, sum(blk.tfs))
        blk = self._block(bi)
        return plists[bisect_left(blk.doc_ids, doc_id)]


_TfDl = dict[str, dict[int, tuple[int, int]]]


def _intersect(
    posts: dict[str, PosTermPostings],
    groups: list[list[str]],
    deleted: frozenset[int],
) -> tuple[list[int], _TfDl]:
    """Ascending live doc ids holding some member of EVERY group, and
    each member's ``doc -> (tf, dl)`` (complete for those docs). Groups
    are taken rarest first — summed member df, ties by group order —
    and every member must be in ``posts``."""
    order = sorted(
        range(len(groups)),
        key=lambda i: (sum(posts[t].df for t in groups[i]), i),
    )
    tfdl: _TfDl = {t: posts[t].all_docs() for t in groups[order[0]]}
    cand = sorted({d for m in tfdl.values() for d in m if d not in deleted})
    for gi in order[1:]:
        if not cand:
            break
        found: set[int] = set()
        for t in groups[gi]:
            tfdl[t] = posts[t].lookup_many(cand)
            found.update(tfdl[t])
        cand = [d for d in cand if d in found]
    return cand, tfdl


def _bag_topk(
    docs: Iterable[int], tfdl: _TfDl, slots: list[tuple[list[str], float]],
    avgdl: float, k: int,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) of ``docs`` by (score desc, doc_id asc),
    each doc scored as a BM25 bag over ``slots``: per slot, tf summed
    over the members present in the doc, weighted by the slot's idf.
    Slots are summed in the given order (float addition is not
    associative)."""
    out: list[tuple[int, float]] = []
    for doc in docs:
        dl = next(m[doc][1] for m in tfdl.values() if doc in m)
        score = 0.0
        for members, idf in slots:
            tf = sum(tfdl[t][doc][0] for t in members if doc in tfdl[t])
            score += score_term(tf, dl, avgdl, idf)
        out.append((doc, score))
    out.sort(key=lambda p: (-p[1], p[0]))
    return out[:k]


def _slot(
    posts: dict[str, PosTermPostings], tfdl: _TfDl, members: list[str]
) -> Callable[[int], list[int]]:
    """doc -> ascending positions of the union of the members'
    occurrences (Lucene's SpanOr / MultiPhraseQuery slot disjunction),
    for candidates of the members' group; a one-member slot is the
    term's own lookup, with no wrapper call per doc."""
    if len(members) == 1:
        return posts[members[0]].positions_of
    return lambda doc: sorted(
        {p for t in members if doc in tfdl[t] for p in posts[t].positions_of(doc)}
    )


def _phrase_run(
    slots: list[Callable[[int], list[int]]], doc: int, slop: int
) -> bool:
    """Whether ``doc`` holds the slots in order, each adjacent pair at
    most ``slop`` extra tokens apart. Stops decoding at the first slot
    the chain cannot reach."""
    live = set(slots[0](doc))
    for positions in slots[1:]:
        live = {
            q
            for q in positions(doc)
            if any(q - d in live for d in range(1, slop + 2))
        }
        if not live:
            return False
    return bool(live)


def phrase_match_topk(
    posts: dict[str, PosTermPostings],
    phrase: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    slop: int = 0,
    deleted: frozenset[int] = frozenset(),
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for one phrase within one shard.

    Position semantics: a position q of phrase term i+1 survives iff some
    surviving position p of term i has p < q <= p + 1 + slop — ordered,
    per-adjacent-pair gaps. NOTE this is STRICTER than Lucene/ES
    match_phrase slop (a total edit budget that also admits out-of-order
    matches, e.g. slop=2 matches a reversed bigram in ES, never here);
    slop=0 — exact consecutive phrase — is identical in both.

    Matching docs score as a plain BM25 bag over the phrase's unique
    terms, so slop=0 agrees with the SQL oracle's phrase-filter + BM25
    formulation exactly. Returns (score desc, doc_id asc).
    """
    if not phrase:
        return []
    uniq = sorted(set(phrase))
    if any(t not in posts for t in uniq):
        return []
    cand, tfdl = _intersect(posts, [[t] for t in uniq], deleted)
    chain = [posts[t].positions_of for t in phrase]
    return _bag_topk(
        (d for d in cand if _phrase_run(chain, d, slop)),
        tfdl, [([t], idfs[t]) for t in uniq], avgdl, k,
    )


def min_span(plists: list[list[int]]) -> int:
    """Smallest (max - min) over one position chosen from each sorted
    list — the classic k-pointer sweep over the merged position streams,
    O(total positions) per doc. Lists must be non-empty and ascending."""
    idx = [0] * len(plists)
    best = max(p[0] for p in plists) - min(p[0] for p in plists)
    while True:
        cur = [pl[i] for pl, i in zip(plists, idx)]
        lo, hi = min(cur), max(cur)
        if hi - lo < best:
            best = hi - lo
            if best == 0:
                return 0
        j = cur.index(lo)
        idx[j] += 1
        if idx[j] >= len(plists[j]):
            return best


def span_near_match_topk(
    posts: dict[str, PosTermPostings],
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    slop: int = 0,
    deleted: frozenset[int] = frozenset(),
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for one unordered proximity query within one
    shard — the Lucene ``NearSpansUnordered`` / ES ``span_near``
    (in_order=false) analog: a doc matches iff ONE position per distinct
    term can be chosen so the covering span fits the slop budget. With
    single-term spans Lucene's test ``(max_end - min_start) - n <= slop``
    reduces to ``max_pos - min_pos <= slop + n - 1``; that window is
    checked against the exact minimal span from :func:`min_span`.

    It is :func:`span_near_or_match_topk` with one-member groups.
    Matching docs score as a plain BM25 bag over the unique terms (same
    discipline as phrase_match_topk, so the SQL oracle formulation
    agrees exactly)."""
    uniq = sorted(set(terms))
    if not uniq or any(t not in posts for t in uniq):
        return []
    return span_near_or_match_topk(
        posts, [[t] for t in uniq], [idfs[t] for t in uniq], avgdl, k,
        slop=slop, deleted=deleted,
    )


def span_first_match_topk(
    posts: dict[str, PosTermPostings],
    term: str,
    idf: float,
    avgdl: float,
    k: int,
    end: int,
    deleted: frozenset[int] = frozenset(),
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for one ``span_first`` query within one
    shard — the Lucene ``SpanFirstQuery`` / ES ``span_first`` analog
    wrapping a single span_term: a doc matches iff the term occurs at a
    token position < ``end`` (0-based; "in the first ``end`` tokens" —
    the title-ish / lead-paragraph boost every news search uses).

    Every posting of the term is a candidate (no intersection to skip
    through), but positions decode lazily per block, and matching docs
    score as the ordinary single-term BM25 so the SQL oracle's
    expression tree agrees exactly."""
    if term not in posts:
        return []
    cand, tfdl = _intersect(posts, [[term]], deleted)
    return _bag_topk(
        (d for d in cand if posts[term].positions_of(d)[0] < end),
        tfdl, [([term], idf)], avgdl, k,
    )


def span_not_match_topk(
    posts: dict[str, PosTermPostings],
    include: str,
    exclude: str,
    idf: float,
    avgdl: float,
    k: int,
    dist: int = 0,
    deleted: frozenset[int] = frozenset(),
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for one ``span_not`` query within one shard
    — the Lucene ``SpanNotQuery`` / ES ``span_not`` analog with a
    symmetric pre/post window: a doc matches iff SOME occurrence of
    ``include`` has NO occurrence of ``exclude`` within ``dist`` tokens
    ("mortgage but not near reverse", the classic negation-by-proximity).

    Candidates are the include term's postings; the exclude term's
    postings/positions decode ONLY for candidate docs (the galloping
    block-skip probe of :func:`_intersect` — an exclusion stopword costs
    O(candidates), never its df). Matching docs score as plain
    single-term BM25 of the include term."""
    if include not in posts:
        return []
    cand, tfdl = _intersect(posts, [[include]], deleted)
    ex = posts.get(exclude)
    extf = ex.lookup_many(cand) if ex is not None else {}

    def far(doc: int) -> bool:
        if doc not in extf:
            return True
        apos = posts[include].positions_of(doc)
        bpos = ex.positions_of(doc)
        for a in apos:
            i = bisect_left(bpos, a)
            near = min(
                abs(bpos[m] - a) for m in (i - 1, i) if 0 <= m < len(bpos)
            )
            if near > dist:
                return True
        return False

    return _bag_topk(
        (d for d in cand if far(d)), tfdl, [([include], idf)], avgdl, k
    )


def span_near_or_match_topk(
    posts: dict[str, PosTermPostings],
    groups: list[list[str]],
    gidfs: list[float],
    avgdl: float,
    k: int,
    slop: int = 0,
    deleted: frozenset[int] = frozenset(),
) -> list[tuple[int, float]]:
    """Top-k for ``span_near`` over ``span_or`` clauses within one shard
    — Lucene ``SpanNearQuery(SpanOrQuery(...), SpanTermQuery(...))`` /
    ES nested spans: each clause is a GROUP of alternatives; a doc
    matches iff one position per group (drawn from the union of its
    members' occurrences) fits the unordered window
    ``slop + n_groups - 1``. The "(fast|slow) NEAR merge" query no flat
    span shape can express.

    The groups are :func:`_intersect`'s groups, so candidates come
    rarest-GROUP-first (group df = sum of member dfs). Group positions
    are the merged union of member positions — exactly Lucene's SpanOr
    disjunction. Scoring follows the SynonymQuery discipline shared with
    bm25_synonyms: per group, tf SUMS over members and the idf is the
    blend (min member idf == idf of the max member df), so alternatives
    share one scoring slot instead of double-counting."""
    present = [[t for t in sorted(set(g)) if t in posts] for g in groups]
    if not present or not all(present):
        return []
    window = slop + len(present) - 1
    cand, tfdl = _intersect(posts, present, deleted)
    slots = [_slot(posts, tfdl, g) for g in present]
    ok = (d for d in cand if min_span([s(d) for s in slots]) <= window)
    return _bag_topk(ok, tfdl, list(zip(present, gidfs)), avgdl, k)


def ordered_chain_width(plists: list[list[int]]) -> int | None:
    """Smallest ``p_n - p_1`` over strictly-increasing chains that pick
    one position per slot IN QUERY ORDER — Lucene's ``NearSpansOrdered``
    / intervals ``ordered`` minimal-interval sweep. For each start
    position the greedy "smallest admissible next position" chain
    minimizes the end position, and as starts increase those choices
    only move forward, so one monotonic pointer per slot gives
    O(total positions) per doc. Returns None when no chain exists.
    Lists must be ascending; slots may repeat a term (positions must
    still strictly increase, so "a b a" works naturally)."""
    n = len(plists)
    if any(not pl for pl in plists):
        return None
    best: int | None = None
    ptr = [0] * n
    for p1 in plists[0]:
        prev = p1
        dead = False
        for i in range(1, n):
            pl = plists[i]
            while ptr[i] < len(pl) and pl[ptr[i]] <= prev:
                ptr[i] += 1
            if ptr[i] >= len(pl):
                dead = True
                break
            prev = pl[ptr[i]]
        if dead:
            break
        width = prev - p1
        if best is None or width < best:
            best = width
            if best == n - 1:  # tightest possible ordered chain
                break
    return best


def intervals_ordered_match_topk(
    posts: dict[str, PosTermPostings],
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    max_gaps: int = 0,
    deleted: frozenset[int] = frozenset(),
) -> list[tuple[int, float]]:
    """Top-k for the ES ``intervals`` query's ``match`` source with
    ``ordered: true, max_gaps: G`` within one shard: positions
    p_1 < p_2 < ... < p_n (strictly increasing, query order) with total
    gap budget ``p_n - p_1 - (n - 1) <= G``. The ordered complement of
    :func:`span_near_match_topk` (any-order window); ``max_gaps=0`` is
    an exact ordered run == phrase slop 0 over distinct terms.

    The predicate is the O(total positions) ordered-chain sweep on top
    of :func:`_intersect`. Matching docs score as a plain BM25 bag over
    the unique terms (the span-family discipline, so the SQL oracle
    agrees exactly)."""
    if not terms:
        return []
    uniq = sorted(set(terms))
    if any(t not in posts for t in uniq):
        return []
    window = max_gaps + len(terms) - 1

    def fits(doc: int) -> bool:
        width = ordered_chain_width([posts[t].positions_of(doc) for t in terms])
        return width is not None and width <= window

    cand, tfdl = _intersect(posts, [[t] for t in uniq], deleted)
    return _bag_topk(
        (d for d in cand if fits(d)),
        tfdl, [([t], idfs[t]) for t in uniq], avgdl, k,
    )


def phrase_prefix_match_topk(
    posts: dict[str, PosTermPostings],
    fixed: list[str],
    last_group: list[str],
    idfs: dict[str, float],
    group_idf: float,
    avgdl: float,
    k: int,
    slop: int = 0,
    deleted: frozenset[int] = frozenset(),
) -> list[tuple[int, float]]:
    """Top-k for ES ``match_phrase_prefix`` within one shard: the phrase
    ``fixed + [<prefix>*]`` where the final slot accepts ANY member of
    ``last_group`` (the dictionary expansion of the prefix, computed
    globally by the caller — deterministic, unlike ES's infamous
    per-shard expansion). Position semantics are phrase_match_topk's
    per-adjacent-pair gaps; the final slot's positions are the merged
    union of member positions (MultiPhraseQuery's last-slot disjunction).

    Scoring: BM25 bag over the unique fixed terms plus ONE blended slot
    for the expansion group — tf summed over members present in the doc,
    idf = ``group_idf`` (the caller blends at max expansion df, the
    SynonymQuery discipline shared with span_near_or) — so alternatives
    share a single scoring slot. ``fixed`` must be non-empty and
    disjoint from ``last_group``."""
    if not fixed or not last_group:
        return []
    uniq = sorted(set(fixed))
    if any(t not in posts for t in uniq):
        return []
    members = [t for t in sorted(set(last_group)) if t in posts]
    if not members:
        return []
    cand, tfdl = _intersect(posts, [[t] for t in uniq] + [members], deleted)
    chain = [posts[t].positions_of for t in fixed] + [_slot(posts, tfdl, members)]
    return _bag_topk(
        (d for d in cand if _phrase_run(chain, d, slop)),
        tfdl, [([t], idfs[t]) for t in uniq] + [(members, group_idf)],
        avgdl, k,
    )


def span_containing_match_topk(
    posts: dict[str, PosTermPostings],
    big: list[str],
    little: str,
    idfs: dict[str, float],
    avgdl: float,
    k: int,
    slop: int = 0,
    score_terms: list[str] | None = None,
    deleted: frozenset[int] = frozenset(),
) -> list[tuple[int, float]]:
    """Top-k for ``span_containing`` / ``span_within`` in one shard —
    Lucene ``SpanContainingQuery`` / ``SpanWithinQuery``: the big span
    is an unordered span_near over ``big`` (window ``slop+len(big)-1``),
    the little span a single term; a doc matches iff SOME valid big
    span's interval [min, max] contains an occurrence of ``little``.
    The same doc-level predicate serves both queries — they differ in
    which side SCORES (Lucene scores the query being returned:
    ``score_terms=big`` is span_containing, ``[little]`` span_within;
    the other side is a pure filter), so one kernel carries both.

    Candidates are :func:`_intersect` over big+little. The span check
    enumerates one-position-per-big-term combinations (product of
    per-doc tfs — tf is single digits for non-stopword query terms, so
    the combo count is tiny) with early exit on the first valid covering
    span; the little lookup is a bisect."""
    uniq_big = sorted(set(big))
    need = sorted(set(uniq_big + [little]))
    if any(t not in posts for t in need):
        return []
    window = slop + len(uniq_big) - 1
    score_over = sorted(set(score_terms if score_terms else uniq_big))

    def contains(doc: int) -> bool:
        plists = [posts[t].positions_of(doc) for t in uniq_big]
        cpos = posts[little].positions_of(doc)
        for combo in product(*plists):
            s, e = min(combo), max(combo)
            if e - s > window:
                continue
            i = bisect_left(cpos, s)
            if i < len(cpos) and cpos[i] <= e:
                return True
        return False

    cand, tfdl = _intersect(posts, [[t] for t in need], deleted)
    return _bag_topk(
        (d for d in cand if contains(d)),
        tfdl, [([t], idfs[t]) for t in score_over], avgdl, k,
    )

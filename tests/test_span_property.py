"""Property-based tests (hypothesis) for the positional kernels: on
arbitrary random corpora, block sizes, windows and deleted sets,
min_span must equal the itertools cross-product brute force, and every
``*_match_topk`` kernel must equal a positions-scan brute force with
BM25 scores from the shared Bm25Oracle. A fixed-corpus test pins each
kernel's decode counters (postings / positions), so a change to the
shared intersection cannot silently decode more.

Complements tests/test_phrase.py's fixed corpora the same way
test_wand_property.py complements test_wand_pure.py: hypothesis shrinks
any failure to a minimal corpus, keeping codec/window edge cases
(single-position lists, ties, absent terms, boundary-exact spans)
covered as the span family grows.
"""

from __future__ import annotations

import itertools

from hypothesis import given, settings
from hypothesis import strategies as st

from unichem2index_spark.functions.bm25 import Bm25Oracle, score_term
from unichem2index_spark.functions.codec import chunk_postings, encode_positions
from unichem2index_spark.functions.phrase import (
    DecodeStats,
    PosTermPostings,
    intervals_ordered_match_topk,
    min_span,
    phrase_match_topk,
    phrase_prefix_match_topk,
    span_containing_match_topk,
    span_first_match_topk,
    span_near_match_topk,
    span_near_or_match_topk,
    span_not_match_topk,
)

ALPHABET = ["a", "b", "c", "d"]

corpora = st.lists(
    st.lists(st.sampled_from(ALPHABET), min_size=1, max_size=10),
    min_size=1,
    max_size=25,
)
term_sets = st.lists(
    st.sampled_from(ALPHABET + ["zzz"]), min_size=1, max_size=3
)
block_sizes = st.sampled_from([1, 2, 3, 4, 7, 16])
deleted_sets = st.frozensets(st.integers(0, 24), max_size=6)
ks = st.sampled_from([1, 3, 10])
pos_lists = st.lists(
    st.lists(st.integers(0, 30), min_size=1, max_size=5).map(
        lambda xs: sorted(set(xs))
    ),
    min_size=1,
    max_size=4,
)


def _posts_from_corpus(
    corpus: list[list[str]], block_size: int
) -> tuple[dict[str, PosTermPostings], Bm25Oracle]:
    rows = list(enumerate(corpus))
    oracle = Bm25Oracle(rows)
    posts: dict[str, PosTermPostings] = {}
    occ: dict[str, dict[int, list[int]]] = {}
    for d, toks in rows:
        for i, t in enumerate(toks):
            occ.setdefault(t, {}).setdefault(d, []).append(i)
    for term, doc_pos in occ.items():
        ids = sorted(doc_pos)
        tfs = [len(doc_pos[d]) for d in ids]
        dls = [len(corpus[d]) for d in ids]
        plists = [doc_pos[d] for d in ids]
        enc, maxids = [], []
        for i, blk in enumerate(chunk_postings(ids, tfs, dls, block_size)):
            gaps_b, tfs_b, dls_b = blk.encode()
            lo = i * block_size
            enc.append(
                (gaps_b, tfs_b, dls_b,
                 encode_positions(plists[lo : lo + block_size]))
            )
            maxids.append(blk.doc_ids[-1])
        posts[term] = PosTermPostings(
            term=term, max_doc_ids=maxids, enc_blocks=enc, df=len(ids)
        )
    return posts, oracle


@given(pos_lists)
@settings(max_examples=300, deadline=None)
def test_min_span_equals_bruteforce(plists):
    brute = min(max(c) - min(c) for c in itertools.product(*plists))
    assert min_span(plists) == brute


@given(corpora, term_sets, st.integers(0, 3), st.sampled_from([1, 2, 4, 16]))
@settings(max_examples=150, deadline=None)
def test_span_near_equals_bruteforce(corpus, terms, slop, block_size):
    posts, oracle = _posts_from_corpus(corpus, block_size)
    uniq = sorted(set(terms))
    idfs = {t: oracle.idf(t) for t in uniq if t in posts}
    # absent terms leave idfs short; the kernel must return [] on its own
    got = span_near_match_topk(
        posts, terms, idfs, oracle.avgdl, 10, slop=slop
    )
    window = slop + len(uniq) - 1
    want = []
    for d, toks in enumerate(corpus):
        plists = [
            [i for i, t in enumerate(toks) if t == u] for u in uniq
        ]
        if any(not p for p in plists):
            continue
        if min(
            max(c) - min(c) for c in itertools.product(*plists)
        ) > window:
            continue
        want.append((d, oracle.score_doc(uniq, d)))
    want.sort(key=lambda p: (-p[1], p[0]))
    assert [(d, round(s, 6)) for d, s in got] == [
        (d, round(s, 6)) for d, s in want[:10]
    ]


@given(
    corpora,
    st.sampled_from(ALPHABET + ["zzz"]),
    st.integers(1, 6),
    st.sampled_from([1, 2, 4, 16]),
)
@settings(max_examples=150, deadline=None)
def test_span_first_equals_bruteforce(corpus, term, end, block_size):
    posts, oracle = _posts_from_corpus(corpus, block_size)
    idf = oracle.idf(term) if term in posts else 0.0
    got = span_first_match_topk(posts, term, idf, oracle.avgdl, 10, end)
    want = sorted(
        (
            (d, oracle.score_doc([term], d))
            for d, toks in enumerate(corpus)
            if term in toks[:end]
        ),
        key=lambda p: (-p[1], p[0]),
    )[:10]
    assert [(d, round(s, 6)) for d, s in got] == [
        (d, round(s, 6)) for d, s in want
    ]


@given(
    corpora,
    st.sampled_from(ALPHABET),
    st.sampled_from(ALPHABET + ["zzz"]),
    st.integers(0, 3),
    st.sampled_from([1, 2, 4, 16]),
)
@settings(max_examples=150, deadline=None)
def test_span_not_equals_bruteforce(corpus, inc, exc, dist, block_size):
    posts, oracle = _posts_from_corpus(corpus, block_size)
    idf = oracle.idf(inc) if inc in posts else 0.0
    got = span_not_match_topk(
        posts, inc, exc, idf, oracle.avgdl, 10, dist=dist
    )
    want = []
    for d, toks in enumerate(corpus):
        apos = [i for i, t in enumerate(toks) if t == inc]
        bpos = [i for i, t in enumerate(toks) if t == exc]
        if any(all(abs(a - b) > dist for b in bpos) for a in apos):
            want.append((d, oracle.score_doc([inc], d)))
    want.sort(key=lambda p: (-p[1], p[0]))
    assert [(d, round(s, 6)) for d, s in got] == [
        (d, round(s, 6)) for d, s in want[:10]
    ]


def _plists(toks: list[str], slots: list[set[str]]) -> list[list[int]]:
    """Per slot, the positions of ``toks`` holding one of its terms."""
    return [[i for i, t in enumerate(toks) if t in s] for s in slots]


def _rank(scored, k: int) -> list[tuple[int, float]]:
    top = sorted(scored, key=lambda p: (-p[1], p[0]))[:k]
    return [(d, round(s, 6)) for d, s in top]


def _chain_ok(toks: list[str], slots: list[set[str]], slop: int) -> bool:
    """Some position per slot, in slot order, each adjacent pair 1 to
    slop + 1 tokens apart (the phrase kernels' per-pair gaps)."""
    return any(
        all(1 <= b - a <= slop + 1 for a, b in zip(c, c[1:]))
        for c in itertools.product(*_plists(toks, slots))
    )


@given(
    corpora,
    st.lists(st.sampled_from(ALPHABET + ["zzz"]), min_size=1, max_size=4),
    st.integers(0, 3),
    block_sizes,
    deleted_sets,
    ks,
)
@settings(max_examples=150, deadline=None)
def test_phrase_equals_bruteforce(corpus, phrase, slop, block_size, dead, k):
    posts, oracle = _posts_from_corpus(corpus, block_size)
    uniq = sorted(set(phrase))
    idfs = {t: oracle.idf(t) for t in uniq if t in posts}
    got = phrase_match_topk(
        posts, phrase, idfs, oracle.avgdl, k, slop=slop, deleted=dead
    )
    want = [
        (d, oracle.score_doc(uniq, d))
        for d, toks in enumerate(corpus)
        if d not in dead and _chain_ok(toks, [{t} for t in phrase], slop)
    ]
    assert [(d, round(s, 6)) for d, s in got] == _rank(want, k)


@given(
    corpora,
    st.lists(st.sampled_from(ALPHABET + ["zzz"]), min_size=1, max_size=4),
    st.integers(0, 3),
    block_sizes,
    deleted_sets,
    ks,
)
@settings(max_examples=150, deadline=None)
def test_intervals_ordered_equals_bruteforce(
    corpus, terms, max_gaps, block_size, dead, k
):
    posts, oracle = _posts_from_corpus(corpus, block_size)
    uniq = sorted(set(terms))
    idfs = {t: oracle.idf(t) for t in uniq if t in posts}
    got = intervals_ordered_match_topk(
        posts, terms, idfs, oracle.avgdl, k, max_gaps=max_gaps, deleted=dead
    )
    width = max_gaps + len(terms) - 1
    want = [
        (d, oracle.score_doc(uniq, d))
        for d, toks in enumerate(corpus)
        if d not in dead
        and any(
            all(a < b for a, b in zip(c, c[1:])) and c[-1] - c[0] <= width
            for c in itertools.product(*_plists(toks, [{t} for t in terms]))
        )
    ]
    assert [(d, round(s, 6)) for d, s in got] == _rank(want, k)


@given(
    corpora,
    st.lists(
        st.lists(st.sampled_from(ALPHABET + ["zzz"]), min_size=1, max_size=3),
        min_size=1,
        max_size=3,
    ),
    st.integers(0, 3),
    block_sizes,
    deleted_sets,
    ks,
)
@settings(max_examples=150, deadline=None)
def test_span_near_or_equals_bruteforce(
    corpus, groups, slop, block_size, dead, k
):
    posts, oracle = _posts_from_corpus(corpus, block_size)
    # the planner's blend: min present member idf (0.0 never scores)
    gidfs = [
        min([oracle.idf(t) for t in g if t in posts], default=0.0)
        for g in groups
    ]
    got = span_near_or_match_topk(
        posts, groups, gidfs, oracle.avgdl, k, slop=slop, deleted=dead
    )
    window = slop + len(groups) - 1
    want = []
    for d, toks in enumerate(corpus):
        plists = _plists(toks, [set(g) for g in groups])
        if d in dead or not any(
            max(c) - min(c) <= window for c in itertools.product(*plists)
        ):
            continue
        score = 0.0
        for g, gidf in zip(groups, gidfs):
            tf = sum(oracle.postings.get(t, {}).get(d, 0) for t in set(g))
            score += score_term(tf, oracle.doclen[d], oracle.avgdl, gidf)
        want.append((d, score))
    assert [(d, round(s, 6)) for d, s in got] == _rank(want, k)


@given(
    corpora,
    st.lists(st.sampled_from(ALPHABET + ["zzz"]), min_size=1, max_size=3),
    st.lists(st.sampled_from(ALPHABET + ["zzz"]), min_size=1, max_size=3),
    st.integers(0, 2),
    block_sizes,
    deleted_sets,
    ks,
)
@settings(max_examples=150, deadline=None)
def test_phrase_prefix_equals_bruteforce(
    corpus, fixed, expansion, slop, block_size, dead, k
):
    posts, oracle = _posts_from_corpus(corpus, block_size)
    group = [t for t in expansion if t not in fixed]  # the planner's rule
    uniq = sorted(set(fixed))
    idfs = {t: oracle.idf(t) for t in uniq if t in posts}
    group_idf = min([oracle.idf(t) for t in group if t in posts], default=0.0)
    got = phrase_prefix_match_topk(
        posts, fixed, group, idfs, group_idf, oracle.avgdl, k,
        slop=slop, deleted=dead,
    )
    slots = [{t} for t in fixed] + [set(group)]
    want = []
    for d, toks in enumerate(corpus):
        if d in dead or not _chain_ok(toks, slots, slop):
            continue
        gtf = sum(oracle.postings.get(t, {}).get(d, 0) for t in set(group))
        score = oracle.score_doc(uniq, d) + score_term(
            gtf, oracle.doclen[d], oracle.avgdl, group_idf
        )
        want.append((d, score))
    assert [(d, round(s, 6)) for d, s in got] == _rank(want, k)


@given(
    corpora,
    st.lists(st.sampled_from(ALPHABET + ["zzz"]), min_size=1, max_size=3),
    st.sampled_from(ALPHABET + ["zzz"]),
    st.integers(0, 3),
    st.booleans(),
    block_sizes,
    deleted_sets,
    ks,
)
@settings(max_examples=150, deadline=None)
def test_span_containing_equals_bruteforce(
    corpus, big, little, slop, within, block_size, dead, k
):
    posts, oracle = _posts_from_corpus(corpus, block_size)
    uniq_big = sorted(set(big))
    score_over = [little] if within else uniq_big
    idfs = {t: oracle.idf(t) for t in uniq_big + [little] if t in posts}
    got = span_containing_match_topk(
        posts, big, little, idfs, oracle.avgdl, k,
        slop=slop, score_terms=score_over, deleted=dead,
    )
    window = slop + len(uniq_big) - 1
    want = []
    for d, toks in enumerate(corpus):
        cpos = [i for i, t in enumerate(toks) if t == little]
        if d in dead or not any(
            max(c) - min(c) <= window
            and any(min(c) <= p <= max(c) for p in cpos)
            for c in itertools.product(*_plists(toks, [{t} for t in uniq_big]))
        ):
            continue
        want.append((d, oracle.score_doc(sorted(set(score_over)), d)))
    assert [(d, round(s, 6)) for d, s in got] == _rank(want, k)


def _pin_corpus() -> list[list[str]]:
    """240 docs: "the" in every one (the stopword), "zebra" in 10, an
    expansion group fog/for/fox of mixed rarity."""
    docs = []
    for d in range(240):
        toks = ["the", f"w{d % 7}", "the"]
        if d % 5 == 0:
            toks += ["quick", "brown"]
        if d % 40 == 3:
            toks += ["zebra", "quick", "the", "fox"]
        if d % 11 == 0:
            toks += ["fog", "the"]
        if d % 60 == 7:
            toks = ["zebra", "the", "fox", "for"] + toks
        docs.append(toks)
    return docs


# (postings, positions) decoded per kernel call on _pin_corpus at block
# size 8, deleted {3, 43}, as each kernel's own intersection decoded them
# before the shared _intersect. phrase_prefix may decode fewer postings:
# its expansion group takes its turn in the rarest-first order.
PINNED_DECODES = {
    "phrase": (82, 113),
    "span_near": (66, 136),
    "span_first": (10, 10),
    "span_not": (66, 136),
    "span_near_or": (224, 448),
    "intervals_ordered": (76, 146),
    "phrase_prefix": (276, 452),
    "span_containing": (82, 113),
    "span_within": (82, 113),
}


def test_decode_counters_pinned():
    corpus = _pin_corpus()
    dead = frozenset({3, 43})
    calls = {
        "phrase": lambda p, i, a: phrase_match_topk(
            p, ["zebra", "quick", "the"], i, a, 10, deleted=dead),
        "span_near": lambda p, i, a: span_near_match_topk(
            p, ["the", "zebra"], i, a, 10, slop=1, deleted=dead),
        "span_first": lambda p, i, a: span_first_match_topk(
            p, "zebra", i["zebra"], a, 10, 2, deleted=dead),
        "span_not": lambda p, i, a: span_not_match_topk(
            p, "zebra", "the", i["zebra"], a, 10, dist=0, deleted=dead),
        "span_near_or": lambda p, i, a: span_near_or_match_topk(
            p, [["zebra", "fog"], ["the"]], [i["fog"], i["the"]], a, 10,
            deleted=dead),
        "intervals_ordered": lambda p, i, a: intervals_ordered_match_topk(
            p, ["zebra", "the", "fox"], i, a, 10, max_gaps=1, deleted=dead),
        "phrase_prefix": lambda p, i, a: phrase_prefix_match_topk(
            p, ["the"], ["fog", "for", "fox"], i, i["fog"], a, 10,
            deleted=dead),
        "span_containing": lambda p, i, a: span_containing_match_topk(
            p, ["quick", "the"], "zebra", i, a, 10, slop=2, deleted=dead),
        "span_within": lambda p, i, a: span_containing_match_topk(
            p, ["quick", "the"], "zebra", i, a, 10, slop=2,
            score_terms=["zebra"], deleted=dead),
    }
    got = {}
    for name, call in calls.items():
        posts, oracle = _posts_from_corpus(corpus, 8)
        stats = DecodeStats()
        for p in posts.values():
            p.stats = stats
        idfs = {t: oracle.idf(t) for t in posts}
        assert call(posts, idfs, oracle.avgdl), name  # every query matches
        got[name] = (sum(stats.postings.values()), sum(stats.positions.values()))
    # the stopword never decodes in full: 30 blocks of 8 postings
    assert all(n < 240 for name, (n, _) in got.items() if name != "phrase_prefix")
    for name, (postings, positions) in PINNED_DECODES.items():
        if name == "phrase_prefix":
            assert got[name][1] == positions and got[name][0] <= postings
        else:
            assert got[name] == (postings, positions), name

"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import random

import pytest

import gen
import stats
from oracle import Reference, same_ranking
from spans import Span, Tracer, covered, self_times

P = gen.CorpusParams(n_urls=60, vocab_size=120, zipf_s=1.0, doclen_mu=2.5,
                     doclen_sigma=0.5, doclen_min=3, doclen_max=40, dup_url_share=0.3)


# -- generator ----------------------------------------------------------------
def test_corpus_is_deterministic_per_seed():
    src_a, rows_a = gen.gen_corpus(7, P)
    src_b, rows_b = gen.gen_corpus(7, P)
    assert rows_a == rows_b and src_a.vocab == src_b.vocab
    _, rows_c = gen.gen_corpus(8, P)
    assert rows_c != rows_a


def test_queries_waves_and_phrases_are_deterministic_per_seed():
    def draw(seed):
        src, rows = gen.gen_corpus(seed, P)
        live = gen.live_docs(rows)
        rng = random.Random(f"{seed}/queries")
        bands = gen.term_bands(live, src.vocab)
        wave = gen.gen_wave(src, seed, 0, [d["url"] for d in live], 5, 3, gen.BASE_TS)
        return gen.gen_wand_queries(rng, bands, 20), gen.gen_phrases(rng, live, 10), wave

    assert draw(3) == draw(3)
    assert draw(3) != draw(4)


def test_corpus_shape_follows_params():
    src, rows = gen.gen_corpus(1, P)
    assert len(rows) == P.n_urls + round(P.dup_url_share * P.n_urls)
    assert len({r["url"] for r in rows}) == P.n_urls
    assert len(set(src.vocab)) == P.vocab_size
    for r in rows:
        n = len(r["text"].split())
        assert P.doclen_min <= n <= P.doclen_max
        assert set(r["text"].split()) <= set(src.vocab)


def test_html_extracts_to_text():
    from unichem2index_spark.functions.extract import extract_text

    _, rows = gen.gen_corpus(2, P)
    assert all(extract_text(r["html"]) == r["text"] for r in rows)


def test_live_docs_keep_newest_crawl_and_rank_urls():
    t = gen.BASE_TS
    rows = [
        {"url": "b", "warc_ts": t, "text": "old"},
        {"url": "a", "warc_ts": t, "text": "x"},
        {"url": "b", "warc_ts": t + dt.timedelta(minutes=1), "text": "new"},
    ]
    got = gen.live_docs(rows, first_id=10)
    assert [(d["doc_id"], d["url"], d["text"]) for d in got] == [(10, "a", "x"), (11, "b", "new")]


def test_query_shapes_repeat_every_cycle():
    src, rows = gen.gen_corpus(4, P)
    live = gen.live_docs(rows)
    bands = gen.term_bands(live, src.vocab)
    qs = gen.gen_wand_queries(random.Random(0), bands, 20)
    assert [q["k"] for q in qs] == list(gen.WAND_K) * 4
    assert {q["k"] for q in qs} == {1, 10, 100}
    assert all(1 <= len(q["terms"]) <= 1 + q["query_id"] % 5 for q in qs)
    ps = gen.gen_phrases(random.Random(0), live, 8)
    assert [(len(p["phrase"]), p["k"]) for p in ps] == list(gen.PHRASE_SHAPES) * 4


def test_phrases_occur_in_the_corpus():
    _, rows = gen.gen_corpus(5, P)
    live = gen.live_docs(rows)
    ref = Reference(live)
    for p in gen.gen_phrases(random.Random(1), live, 15):
        assert ref.phrase_topk(p["phrase"], 1), p


# -- percentile math ------------------------------------------------------------
def test_summary_tail_is_linear_interpolated():
    xs = [float(i) for i in range(101)]  # p-th percentile of 0..100 is p
    got = stats.summary(list(reversed(xs)))
    assert got == {"n": 101, "p50": 50.0, "p90": pytest.approx(90.0)}
    got = stats.summary([float(i) for i in range(200)])  # 10 beyond p95
    assert got["p95"] == pytest.approx(0.95 * 199)
    assert stats.summary([]) == {"n": 0}


def test_ten_samples_beyond_rule():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.highest_reportable(100) == 90
    assert stats.highest_reportable(199) == 90
    assert stats.highest_reportable(200) == 95
    assert stats.highest_reportable(40) == 75
    assert stats.highest_reportable(24) == 50
    assert stats.highest_reportable(19) is None


def test_summary_reports_tail_only_when_reportable():
    assert set(stats.summary([1.0] * 24)) == {"n", "p50"}
    assert set(stats.summary([float(i) for i in range(100)])) == {"n", "p50", "p90"}


# -- spans ------------------------------------------------------------------
def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, None, start, end)


def test_covered_merges_overlapping_intervals_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: 1..6 covered once
        _span(3, 1, 1.5, 2.5),  # grandchild: not subtracted from span 0
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_records_parents_and_requests():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner", request="q1"):
            pass
    outer, inner = tr.named("outer")[0], tr.named("inner")[0]
    assert inner.parent == outer.id and inner.request == "q1"
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


# -- references ------------------------------------------------------------------
def test_reference_excludes_dead_docs_but_keeps_their_stats():
    docs = [{"doc_id": 0, "text": "a b"}, {"doc_id": 1, "text": "a c"}, {"doc_id": 2, "text": "c c"}]
    full = Reference(docs)
    dead = Reference(docs, frozenset({1}))
    assert [d for d, _ in dead.topk(["a"], 5)] == [0]
    assert dead.topk(["a"], 5)[0] == full.topk(["a"], 5)[0]  # same idf / avgdl
    assert [d for d, _ in full.phrase_topk(["a", "c"], 5)] == [1]
    assert dead.phrase_topk(["a", "c"], 5) == []


def test_same_ranking_tolerates_output_rounding_only():
    want = [(3, 1.23456789), (1, 0.5)]
    assert same_ranking([(3, 1.234568), (1, 0.5)], want)
    assert not same_ranking([(1, 0.5), (3, 1.234568)], want)
    assert not same_ranking([(3, 1.2346), (1, 0.5)], want)
    assert not same_ranking([(3, 1.234568)], want)

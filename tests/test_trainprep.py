"""Training-prep operators: deterministic split, benchmark
decontamination, token-budget sequence packing, plus the gauss-decay
scorer and bucket_script/selector pipeline aggs.

Each operator is checked against an independent pure-Python recompute.
"""

from __future__ import annotations

import math

import pytest

from unichem2index_spark.functions.bm25 import Bm25Oracle, score_term
from unichem2index_spark.functions.hashing import FP_MULT, MOD
from unichem2index_spark.functions.tokenize import tokenize
from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators import textstats, trainprep
from unichem2index_spark.sources.tables import load_tables

from tests.conftest import SF_SMOKE

TERMS = ["the", "merge", "vector"]


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = df.select("doc_id", "text", "lang", "source", "n_chars").collect()
    return df, {r.doc_id: r for r in rows}


@pytest.fixture(scope="module")
def tables(spark):
    return load_tables(spark, SF_SMOKE)


def _py_split(doc_id: int) -> str:
    h = ((doc_id % MOD + 1) * FP_MULT) % MOD % 100
    if h < trainprep.SPLIT_TRAIN_PCT:
        return "train"
    if h < trainprep.SPLIT_VALID_PCT:
        return "valid"
    return "test"


# ------------------------------------------------------------------ split
def test_split_counts_match_python(spark, corpus, tables):
    _, rows = corpus
    want: dict[str, list[int]] = {}
    for d, r in rows.items():
        want.setdefault(_py_split(d), []).append(len(tokenize(r.text)))
    got = {r.split: r for r in
           trainprep.train_eval_split(spark, tables).collect()}
    assert set(got) == set(want)
    for s, lens in want.items():
        assert (got[s].n_docs, got[s].n_tokens) == (len(lens), sum(lens))


def test_split_assignment_is_stable_and_partition_invariant(spark, corpus):
    df, rows = corpus
    a = {r.doc_id: r.split for r in
         trainprep.split_assignment(df).collect()}
    b = {r.doc_id: r.split for r in
         trainprep.split_assignment(df.repartition(7)).collect()}
    assert a == b == {d: _py_split(d) for d in rows}


# -------------------------------------------------------------- decontam
def _shingles(tokens: list[str]) -> set[str]:
    return {
        " ".join(tokens[i:i + 3]) for i in range(len(tokens) - 2)
    } if len(tokens) >= 3 else set()


def test_decontaminate_matches_python_overlap(spark, corpus, tables):
    _, rows = corpus
    bench: set[str] = set()
    for r in rows.values():
        if r.source == trainprep.BENCHMARK_SOURCE:
            bench |= _shingles(tokenize(r.text))
    want = {}
    for d, r in rows.items():
        if r.source == trainprep.BENCHMARK_SOURCE:
            continue
        shared = len(_shingles(tokenize(r.text)) & bench)
        if shared >= trainprep.CONTAM_MIN_SHARED:
            want[d] = shared
    got = {r.doc_id: r.n_shared for r in
           trainprep.decontaminate(spark, tables).collect()}
    assert got == want
    assert want, "fixture must produce non-trivial contamination"
    # benchmark docs are never flagged against themselves
    assert all(
        rows[d].source != trainprep.BENCHMARK_SOURCE for d in got
    )


# ---------------------------------------------------------------- packing
def _py_pack(lens: list[int], budget: int) -> list[int]:
    seq_ids, seq, fill = [], 0, 0
    for n in lens:
        if fill > 0 and fill + n > budget:
            seq += 1
            fill = 0
        seq_ids.append(seq)
        fill += n
    return seq_ids


def test_pack_sequences_matches_python_greedy(spark, corpus, tables):
    _, rows = corpus
    by_src: dict[str, list[tuple[int, int]]] = {}
    for d in sorted(rows):
        r = rows[d]
        by_src.setdefault(r.source, []).append((d, len(tokenize(r.text))))
    want: dict[tuple[str, int], tuple[int, int]] = {}
    for src, pairs in by_src.items():
        lens = [n for _, n in pairs]
        for sid, n in zip(_py_pack(lens, trainprep.PACK_BUDGET), lens):
            nd, nt = want.get((src, sid), (0, 0))
            want[(src, sid)] = (nd + 1, nt + n)
    got = {
        (r.source, r.seq_id): (r.n_docs, r.seq_tokens)
        for r in trainprep.pack_sequences(spark, tables).collect()
    }
    assert got == want
    # every sequence respects the budget unless it is a single long doc
    for (src, sid), (nd, nt) in got.items():
        assert nt <= trainprep.PACK_BUDGET or nd == 1


def test_pack_budget_boundaries(spark, tables):
    # synthetic boundary: docs of exactly budget/2 tokens pack in pairs
    spark2 = spark
    b = trainprep.PACK_BUDGET
    word = "x"
    docs = [
        (i, " ".join([word] * (b // 2)), "s") for i in range(4)
    ] + [(9, " ".join([word] * (b + 10)), "s")]  # oversized singleton
    df = spark2.createDataFrame(docs, "doc_id long, text string, source string")
    got = sorted(
        (r.seq_id, r.n_docs, r.seq_tokens)
        for r in trainprep.pack_sequences(spark2, {"documents": df}).collect()
    )
    assert got == [(0, 2, b), (1, 2, b), (2, 1, b + 10)]


# ------------------------------------------------------------- gauss decay
def test_gauss_decay_matches_python(spark, corpus):
    df, rows = corpus
    oracle = Bm25Oracle(
        [(d, tokenize(r.text)) for d, r in rows.items()]
    )
    acc: dict[int, float] = {}
    for t in sorted(set(TERMS)):
        plist = oracle.postings.get(t, {})
        idf_t = oracle.idf(t)
        for d, tf in plist.items():
            acc[d] = acc.get(d, 0.0) + score_term(
                tf, oracle.doclen[d], oracle.avgdl, idf_t
            )
    denom = 22500.0 / math.log(2.0)
    decayed = {
        d: s * math.exp(-((abs(rows[d].n_chars - 300.0)) ** 2) / denom)
        for d, s in acc.items()
    }
    want = sorted(decayed.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = Q.bm25_topk_gauss_decay(
        df, TERMS, 10, origin=300.0, denom=denom
    ).collect()
    assert [r.doc_id for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r.score == pytest.approx(s, abs=1e-5)
    # decay multiplier is bounded by 1: decayed score never beats plain
    plain = {r.doc_id: r.score for r in
             Q.bm25_topk_exact(df, TERMS, 1000).collect()}
    for r in got:
        assert r.score <= plain[r.doc_id] + 1e-9


# ------------------------------------------------- bucket script/selector
def test_bucket_script_selector(spark, corpus, tables):
    _, rows = corpus
    by_lang: dict[str, list[int]] = {}
    for r in rows.values():
        by_lang.setdefault(r.lang, []).append(len(tokenize(r.text)))
    want = {
        lang: (len(v), sum(v))
        for lang, v in by_lang.items()
        if len(v) >= textstats.MIN_BUCKET_DOCS
    }
    got = textstats.bucket_script_selector(spark, tables).collect()
    assert {r.lang: (r.doc_count, r.total_tokens) for r in got} == want
    for r in got:
        assert r.avg_tokens == pytest.approx(
            r.total_tokens / r.doc_count, abs=1e-5
        )


def test_collapse_repeats_python_recompute(spark):
    t = load_tables(spark, SF_SMOKE)
    import hashlib
    import re

    rows = trainprep.collapse_repeats(spark, t).collect()
    texts = {r.doc_id: r.text for r in t["documents"].limit(2000).collect()}
    assert rows and len(rows) == len(texts)
    checked = 0
    for r in rows[:25]:
        toks = re.findall(r"[a-z0-9]+", texts[r.doc_id].lower())
        kept = [x for i, x in enumerate(toks) if i == 0 or x != toks[i - 1]]
        assert r.n_tokens == len(toks)
        assert r.n_kept == len(kept)
        assert r.n_removed == len(toks) - len(kept)
        fp = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert r.clean_fp == fp
        checked += 1
    assert checked
    # The synthetic corpus genuinely contains consecutive repeats.
    assert any(r.n_removed > 0 for r in rows)


def test_dup_ngram_ratio_recompute(spark):
    t = load_tables(spark, SF_SMOKE)
    rows = trainprep.dup_ngram_ratio(spark, t).collect()
    texts = {r.doc_id: r.text for r in t["documents"].collect()}
    assert len(rows) == len(texts)
    for r in rows:
        toks = tokenize(texts[r.doc_id])
        grams = [
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ] if len(toks) >= 3 else []
        assert r.n_ngrams == len(grams)
        assert r.n_distinct == len(set(grams))
        ratio = 1.0 - len(set(grams)) / len(grams) if grams else 0.0
        assert abs(r.dup_ratio - ratio) < 1e-6
        assert r.keep == (ratio <= trainprep.DUP_NGRAM_MAX_RATIO)


def test_pii_scrub_masks_everything(spark):
    t = load_tables(spark, SF_SMOKE)
    import hashlib
    import re

    rows = trainprep.pii_scrub(spark, t).collect()
    texts = {r.doc_id: r.text for r in t["documents"].limit(2000).collect()}
    for r in rows[:25]:
        t2 = (
            f"{texts[r.doc_id]} contact user{r.doc_id}@example.com or "
            f"555-{r.doc_id % 10000:04d} from 10.0.{r.doc_id % 256}.1"
        )
        assert r.n_emails >= 1 and r.n_phones >= 1 and r.n_ips >= 1
        s = re.sub(trainprep.PII_EMAIL, "<EMAIL>", t2)
        s = re.sub(trainprep.PII_PHONE, "<PHONE>", s)
        s = re.sub(trainprep.PII_IP, "<IP>", s)
        assert "@" not in s and "10.0." not in s
        assert r.scrubbed_fp == hashlib.md5(s.encode()).hexdigest()


def test_quality_filter_rules_recompute(spark):
    t = load_tables(spark, SF_SMOKE)
    rows = trainprep.quality_filter(spark, t).collect()
    texts = {r.doc_id: r.text for r in t["documents"].collect()}
    assert len(rows) == len(texts)
    stopset = set(trainprep.QF_STOPWORDS)
    kept = dropped = 0
    for r in rows:
        toks = tokenize(texts[r.doc_id])
        fails = []
        if not (trainprep.QF_MIN_TOKENS <= len(toks) <= trainprep.QF_MAX_TOKENS):
            fails.append("length")
        ml = sum(len(x) for x in toks) / max(len(toks), 1)
        if not (trainprep.QF_MIN_MEAN_TOK_LEN <= ml <= trainprep.QF_MAX_MEAN_TOK_LEN):
            fails.append("mean_tok_len")
        grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        dup = 1 - len(set(grams)) / len(grams) if grams else 0.0
        if dup > trainprep.QF_MAX_DUP_RATIO:
            fails.append("dup_ngrams")
        stops = sum(1 for x in toks if x in stopset)
        if stops < trainprep.QF_MIN_STOP_HITS:
            fails.append("stopwords")
        assert (r.n_tokens, r.stop_hits) == (len(toks), stops), r.doc_id
        assert (r.mean_tok_len, r.dup_ratio) == (
            round(ml, 6), round(dup, 6)
        ), r.doc_id
        assert r.failed_rules == ",".join(fails), (
            r.doc_id, r.failed_rules, fails
        )
        assert r.keep == (not fails)
        kept += int(r.keep)
        dropped += int(not r.keep)
    assert kept  # the filter keeps most of a sane corpus


def test_sample_mixture_quotas_and_stability(spark):
    t = load_tables(spark, SF_SMOKE)
    rows = trainprep.sample_mixture(spark, t).collect()
    from collections import Counter

    per_src = Counter(r.source for r in rows)
    assert per_src["src0"] == 20 and per_src["src1"] == 10
    assert all(
        v == 3 for s, v in per_src.items() if s not in ("src0", "src1")
    )
    # Partition invariance: same sample at any parallelism.
    t2 = dict(t)
    t2["documents"] = t["documents"].repartition(7)
    rows2 = trainprep.sample_mixture(spark, t2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # Monotone quota growth: a bigger budget keeps every sampled doc.
    bigger = trainprep.sample_mixture(
        spark, t, quotas={"src0": 25, "src1": 15}, default_quota=5
    ).collect()
    assert {(r.doc_id) for r in rows} <= {(r.doc_id) for r in bigger}


def test_maxsim_python_recompute(spark):
    import math

    from unichem2index_spark.operators import similarity

    t = load_tables(spark, SF_SMOKE)
    rows = similarity.maxsim_topk(spark, t, qvec_id=42, k=10).collect()
    assert rows
    emb = {r.vec_id: [float(x) for x in r.embedding]
           for r in t["embeddings"].collect()}
    q = emb[42]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d / (math.sqrt(sum(x * x for x in a))
                 * math.sqrt(sum(y * y for y in b))), 6)

    def maxsim(dv):
        s = 0.0
        for i in range(4):
            qs = q[i * 16:(i + 1) * 16]
            s += max(cos(qs, dv[j * 16:(j + 1) * 16]) for j in range(4))
        return s

    scores = {v: maxsim(dv) for v, dv in emb.items() if v != 42}
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.vec_id, r.maxsim) for r in rows] == [
        (v, round(s, 6)) for v, s in want
    ]


def test_training_order_permutation(spark):
    from unichem2index_spark.functions.hashing import FP_MULT, MOD
    from unichem2index_spark.operators.trainprep import training_order
    from unichem2index_spark.sources.tables import load_tables

    from tests.conftest import SF_SMOKE

    t = load_tables(spark, SF_SMOKE)
    rows = training_order(spark, t).collect()
    ids = [r.doc_id for r in t["documents"].select("doc_id").collect()]
    assert len(rows) == len(ids)
    # bijection over doc_ids, dense rank 0..n-1
    assert sorted(r.doc_id for r in rows) == sorted(ids)
    assert sorted(r.train_order for r in rows) == list(range(len(ids)))
    # rank == position when sorted by the permutation key (keys unique:
    # the map is injective below prime MOD)
    perm = {i: ((i % MOD + 1) * FP_MULT) % MOD for i in ids}
    assert len(set(perm.values())) == len(ids)
    exp_order = [i for i, _ in sorted(perm.items(), key=lambda kv: kv[1])]
    got = {r.train_order: r.doc_id for r in rows}
    assert [got[k] for k in range(len(ids))] == exp_order
    for r in rows:
        assert r.perm_key == perm[r.doc_id]

    # partition invariance: identical assignment at another parallelism
    rows2 = (
        training_order(
            spark,
            {"documents": t["documents"].repartition(7)},
        )
        .collect()
    )
    assert {(r.doc_id, r.train_order) for r in rows2} == {
        (r.doc_id, r.train_order) for r in rows
    }


def test_token_budget_sample_monotone_superset(spark):
    """Budget slice: running total <= budget in permutation order; a
    bigger budget yields a strict superset; recompute brute-force."""
    from unichem2index_spark.functions.hashing import FP_MULT, MOD
    from unichem2index_spark.functions.tokenize import tokenize
    from unichem2index_spark.operators import trainprep
    from unichem2index_spark.sources.tables import load_tables

    from tests.conftest import SF_SMOKE

    t = load_tables(spark, SF_SMOKE)
    rows = t["documents"].collect()
    order = sorted(
        rows, key=lambda r: (((r.doc_id % MOD) + 1) * FP_MULT % MOD, r.doc_id)
    )
    want, run = [], 0
    for r in order:
        n = len(tokenize(r.text))
        run += n
        if run > 4000:
            break
        want.append((r.doc_id, n, run))
    got = [
        (r.doc_id, r.n_tokens, r.running)
        for r in trainprep.token_budget_sample(spark, t, budget=4000).collect()
    ]
    assert got == want and got
    small = {r.doc_id for r in
             trainprep.token_budget_sample(spark, t, budget=2000).collect()}
    big = {r.doc_id for r in
           trainprep.token_budget_sample(spark, t, budget=4000).collect()}
    assert small < big


def test_stratified_split_exact_quota(spark):
    """Each source contributes exactly floor(n/10) eval docs, chosen by
    the hash permutation; <10-doc strata contribute zero."""
    t = load_tables(spark, SF_SMOKE)
    rows = trainprep.stratified_split(spark, t).collect()
    per: dict = {}
    for r in t["documents"].collect():
        per.setdefault(r.source, []).append(r.doc_id)
    got_eval: dict = {}
    for r in rows:
        if r.split == "eval":
            got_eval.setdefault(r.source, set()).add(r.doc_id)
    for src, ids in per.items():
        quota = len(ids) // 10
        assert len(got_eval.get(src, set())) == quota, src
        # the eval picks are the first `quota` by the permutation
        order = sorted(ids, key=lambda i: (((i % MOD) + 1) * FP_MULT) % MOD)
        assert got_eval.get(src, set()) == set(order[:quota]), src
    assert len(rows) == sum(len(v) for v in per.values())


def test_vocab_coverage_recompute(spark):
    """OOV rate per source vs a pure-Python top-V vocab recompute."""
    t = load_tables(spark, SF_SMOKE)
    cf: dict = {}
    per_src: dict = {}
    for r in t["documents"].collect():
        toks = tokenize(r.text)
        per_src.setdefault(r.source, []).extend(toks)
        for tok in toks:
            cf[tok] = cf.get(tok, 0) + 1
    vocab = {
        term
        for term, _ in sorted(cf.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    }
    got = {r.source: r for r in trainprep.vocab_coverage(spark, t).collect()}
    assert set(got) == set(per_src)
    for src, toks in per_src.items():
        g = got[src]
        oov = sum(1 for tok in toks if tok not in vocab)
        assert g.n_tokens == len(toks)
        assert g.oov_tokens == oov
        assert g.oov_rate == round(oov / len(toks), 6)


def test_span_corruption_recompute(spark):
    """Mask membership recomputed per position in pure Python; rate
    lands near the ~15% design point corpus-wide."""
    t = load_tables(spark, SF_SMOKE)
    got = {r.doc_id: r for r in trainprep.span_corruption(spark, t).collect()}
    total = masked_total = 0
    for r in t["documents"].collect():
        n = len(tokenize(r.text))
        starts = {
            p
            for p in range(n)
            if (((r.doc_id % MOD) * 1_000_003 + p) % MOD + 1)
            * FP_MULT % MOD % 20 == 0
        }
        masked = sorted(
            p for p in range(n)
            if any(p - k in starts for k in range(3))
        )
        g = got[r.doc_id]
        assert g.n_tokens == n
        assert g.n_masked == len(masked)
        assert g.masked_positions == ",".join(str(p) for p in masked)
        total += n
        masked_total += len(masked)
    rate = masked_total / total
    assert 0.08 <= rate <= 0.22, rate  # ~15% design point


def test_bigram_lm_recompute(spark):
    t = load_tables(spark, SF_SMOKE)
    pair: dict = {}
    marg: dict = {}
    for r in t["documents"].collect():
        toks = tokenize(r.text)
        for a, b in zip(toks, toks[1:]):
            pair[(a, b)] = pair.get((a, b), 0) + 1
            marg[a] = marg.get(a, 0) + 1
    want = sorted(
        ((a, b, n, marg[a]) for (a, b), n in pair.items()),
        key=lambda x: (-x[2], x[0], x[1]),
    )[:20]
    got = trainprep.bigram_lm(spark, t).collect()
    assert [(r.w1, r.w2, r.pair_n, r.w1_n) for r in got] == want
    for r in got:
        assert abs(r.cond_p - round(r.pair_n / r.w1_n, 6)) < 1e-9
        assert 0 < r.cond_p <= 1


def test_doc_perplexity_recompute(spark):
    """Per-doc bits/token recomputed in pure Python from corpus bigram
    counts; every doc bigram is in-model (no smoothing needed)."""
    t = load_tables(spark, SF_SMOKE)
    pair: dict = {}
    marg: dict = {}
    docs = {}
    for r in t["documents"].collect():
        toks = tokenize(r.text)
        docs[r.doc_id] = toks
        for a, b in zip(toks, toks[1:]):
            pair[(a, b)] = pair.get((a, b), 0) + 1
            marg[a] = marg.get(a, 0) + 1
    got = {r.doc_id: r for r in trainprep.doc_perplexity(spark, t).collect()}
    assert set(got) == {d for d, tk in docs.items() if len(tk) >= 2}
    for doc_id, toks in docs.items():
        if len(toks) < 2:
            continue
        dtf: dict = {}
        for a, b in zip(toks, toks[1:]):
            dtf[(a, b)] = dtf.get((a, b), 0) + 1
        # same sequential fold order as both engines: sorted (w1, w2)
        s = 0.0
        for (a, b) in sorted(dtf):
            s += dtf[(a, b)] * math.log(marg[a] / pair[(a, b)])
        n = len(toks) - 1
        g = got[doc_id]
        assert g.n_bigrams == n
        assert abs(g.bits_per_token - round(s / math.log(2.0) / n, 6)) < 1e-9
        assert g.bits_per_token >= 0.0


def test_doc_perplexity_orders_repetition_below_rare_transitions(spark):
    """The filter's reason to exist, on a controlled corpus: a doc made
    of the model's DOMINANT transition (boilerplate) scores strictly
    fewer bits/token than a doc of corpus-unique transitions
    (gibberish). doc 0 repeats aa->aa 6 times; doc 1's bigrams each
    occur once, three of them sharing doc 0's heavy left margin."""
    docs = spark.createDataFrame(
        [
            (0, "aa aa aa aa aa aa aa"),
            (1, "aa bb aa cc aa dd"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in trainprep.doc_perplexity(
            spark, {"documents": docs}
        ).collect()
    }
    assert got[0].n_bigrams == 6 and got[1].n_bigrams == 5
    # P(aa|aa) = 6/9 -> ~0.585 bits; doc 1 averages ~1.9 bits
    assert got[0].bits_per_token < got[1].bits_per_token
    assert abs(got[0].bits_per_token - round(math.log2(9 / 6), 6)) < 1e-9


def test_paragraph_dedup_recompute(spark, tables, corpus):
    """Pure-Python recompute of the corpus-global keep-first paragraph
    dedup, including the rebuilt-document fingerprint."""
    import hashlib

    _, by_id = corpus
    n = trainprep.PARA_CHUNK
    seen: set[str] = set()
    exp: dict[int, tuple[int, int, str]] = {}
    for doc_id in sorted(by_id):
        toks = tokenize(by_id[doc_id].text)
        if not toks:
            continue
        paras = [
            " ".join(toks[i : i + n]) for i in range(0, len(toks), n)
        ]
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        fp = hashlib.md5(" ".join(kept).encode()).hexdigest()
        exp[doc_id] = (len(paras), len(kept), fp)

    got = {
        r.doc_id: (r.n_paras, r.n_kept, r.clean_fp)
        for r in trainprep.paragraph_dedup(spark, tables).collect()
    }
    assert got == exp
    # the corpus must contain at least one removed paragraph (planted
    # duplicate docs), else the operator is untested
    assert any(k < p for p, k, _ in exp.values())


def test_boilerplate_strip_recompute(spark, tables, corpus):
    import hashlib
    from collections import defaultdict

    _, by_id = corpus
    n = trainprep.BOILER_CHUNK
    lines: dict[int, list[str]] = {}
    df_docs: dict[tuple[str, str], set[int]] = defaultdict(set)
    for doc_id, r in by_id.items():
        toks = tokenize(r.text)
        if not toks:
            continue
        ls = [" ".join(toks[i : i + n]) for i in range(0, len(toks), n)]
        lines[doc_id] = ls
        for l in ls:
            df_docs[(r.source, l)].add(doc_id)
    boiler = {
        key for key, docs in df_docs.items()
        if len(docs) >= trainprep.BOILER_MIN_DOCS
    }
    exp = {}
    for doc_id, ls in lines.items():
        src = by_id[doc_id].source
        kept = [l for l in ls if (src, l) not in boiler]
        exp[doc_id] = (
            len(ls),
            len(ls) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (r.n_lines, r.n_boiler, r.clean_fp)
        for r in trainprep.boilerplate_strip(spark, tables).collect()
    }
    assert got == exp
    assert any(b > 0 for _, b, _ in exp.values())


def test_perplexity_buckets_partition_and_order(spark, tables):
    """Terciles partition each language's scored docs; bucket bit
    ranges are ordered head <= middle <= tail and sizes differ by at
    most one (ntile contract)."""
    rows = trainprep.perplexity_buckets(spark, tables).collect()
    by_lang: dict[str, dict[str, tuple[int, float, float]]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = (
            r.n_docs, r.min_bits, r.max_bits,
        )
    scored = trainprep.doc_perplexity(spark, tables).count()
    docs_with_lang = sum(n for b in by_lang.values() for n, _, _ in b.values())
    assert docs_with_lang == scored
    for lang, b in by_lang.items():
        assert set(b) == {"head", "middle", "tail"}
        sizes = [b[k][0] for k in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1
        assert b["head"][2] <= b["middle"][1] or b["head"][2] <= b["middle"][2]
        assert b["middle"][2] <= b["tail"][2]
        assert b["head"][1] <= b["head"][2]


def test_bpe_first_merge_recompute(spark, tables, corpus):
    """Weighted char-pair counts match a pure-Python BPE step-1."""
    from collections import Counter

    _, by_id = corpus
    freq = Counter()
    for r in by_id.values():
        freq.update(tokenize(r.text))
    pairs = Counter()
    for term, f in freq.items():
        for i in range(len(term) - 1):
            pairs[term[i : i + 2]] += f
    want = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.pair, r.n)
        for r in trainprep.bpe_first_merge(spark, tables).collect()
    ]
    assert got == want and len(got) == 20


def test_rag_chunks_recompute(spark, tables, corpus):
    """Pure-Python recompute of the sliding-window RAG chunk table:
    offsets, lengths, and content fingerprints."""
    import hashlib

    _, by_id = corpus
    n, s = trainprep.RAG_CHUNK_TOKENS, trainprep.RAG_CHUNK_STRIDE
    exp = {}
    for doc_id, r in by_id.items():
        toks = tokenize(r.text)
        if not toks:
            continue
        for ci in range(0, (len(toks) - 1) // s + 1):
            window = toks[ci * s : ci * s + n]
            exp[(doc_id, ci)] = (
                ci * s + 1,
                len(window),
                hashlib.md5(" ".join(window).encode()).hexdigest(),
            )
    got = {
        (r.doc_id, r.chunk_id): (r.start_tok, r.n_toks, r.fp)
        for r in trainprep.rag_chunks(spark, tables).collect()
    }
    assert got == exp
    # overlap contract: consecutive chunks share n - s tokens, so any
    # span of <= n - s tokens lies fully inside at least one chunk
    assert n - s == 8
    # non-trivial fixture: some doc must produce >= 2 chunks
    assert any(ci >= 1 for _, ci in exp)


def test_dup_line_chars_recompute(spark, tables, corpus):
    """Pure-Python recompute of the within-document duplicate-line
    character ratio (first occurrence never counts)."""
    _, by_id = corpus
    exp = {}
    for doc_id, r in by_id.items():
        toks = tokenize(r.text)
        if not toks:
            continue
        ls = [" ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)]
        seen: set[str] = set()
        dup = tot = 0
        for l in ls:
            tot += len(l)
            if l in seen:
                dup += len(l)
            seen.add(l)
        ratio = dup / tot if tot else 0.0
        exp[doc_id] = (dup, tot, round(ratio, 6), ratio <= 0.30)
    got = {
        r.doc_id: (r.dup_chars, r.total_chars, r.dup_ratio, r.keep)
        for r in trainprep.dup_line_chars_ratio(spark, tables).collect()
    }
    assert got == exp


def test_dup_line_chars_planted_repeats(spark):
    """The sf0.001 corpus has no within-doc duplicate lines, so the dup
    branch is exercised on a planted frame: a doc whose 10-token line
    repeats 4x must count 3 duplicate copies and fail the 0.30 rule."""
    line = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, (line + " ") * 4, "en", "s", 0),
            (2, "unique words only here now", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.doc_id: r
        for r in trainprep.dup_line_chars_ratio(
            spark, {"documents": docs}
        ).collect()
    }
    assert got[1].dup_chars == 3 * len(line)
    assert got[1].total_chars == 4 * len(line)
    assert not got[1].keep and got[1].dup_ratio == 0.75
    assert got[2].dup_chars == 0 and got[2].keep


def test_url_normalize_dedup_recompute(spark, tables, corpus):
    """Pure-Python recompute of URL synthesis + canonicalization +
    duplicate grouping; the planted variants must collapse."""
    import re

    _, by_id = corpus
    groups: dict[str, list[int]] = {}
    for doc_id, r in by_id.items():
        url = (
            "https://"
            + ("www." if doc_id % 3 == 0 else "")
            + (r.source.upper() if doc_id % 7 == 0 else r.source)
            + ".example.com/page/"
            + str(doc_id % 50)
            + ("/" if doc_id % 5 == 0 else "")
            + ("?utm_source=feed&ref=rss" if doc_id % 4 == 0 else "")
        )
        canon = re.sub(r"\?.*$", "", url.lower())
        canon = re.sub(r"^https://www\.", "https://", canon)
        canon = re.sub(r"/$", "", canon)
        groups.setdefault(canon, []).append(doc_id)
    exp = {
        u: (len(ids), min(ids))
        for u, ids in groups.items()
        if len(ids) >= 2
    }
    want = sorted(exp.items(), key=lambda kv: (-kv[1][0], kv[0]))[:50]
    got = [
        (r.canon_url, (r.n_dups, r.keep_doc_id))
        for r in trainprep.url_normalize_dedup(spark, tables).collect()
    ]
    assert got == want
    # the variant noise must actually exercise the normalization:
    # some group must mix docs whose RAW urls differ
    assert any(n >= 2 for n, _ in exp.values())


# --------------------------------------------------------------- mojibake
def test_mojibake_table_is_cp1252_inverse():
    """Every repair-table row must be the EXACT image of the real bug:
    good UTF-8 text whose bytes were decoded as cp1252. If this holds,
    the chained replace is the true inverse of the corruption."""
    for bad, good in trainprep.MOJIBAKE_TABLE:
        assert bad == good.encode("utf-8").decode("cp1252"), (bad, good)
    # And the injection suffix is fully repairable: corrupting the
    # repaired suffix reproduces it byte-for-byte.
    repaired = trainprep.MOJIBAKE_SUFFIX
    for bad, good in trainprep.MOJIBAKE_TABLE:
        repaired = repaired.replace(bad, good)
    assert repaired.encode("utf-8").decode("cp1252") == trainprep.MOJIBAKE_SUFFIX


def test_fix_mojibake_recompute(spark, corpus, tables):
    df, by_id = corpus
    got = {
        r.doc_id: (r.n_fixed, r.fixed_fp)
        for r in trainprep.fix_mojibake(spark, tables).collect()
    }
    import hashlib

    assert len(got) == len(by_id)
    for doc_id, row in by_id.items():
        t2 = row.text
        if doc_id % 3 == 0:
            t2 = t2 + trainprep.MOJIBAKE_SUFFIX * (doc_id % 2 + 1)
        # Counts read the ORIGINAL t2 (the Spark/SQL expression shape);
        # replacements chain — the table's pairs never overlap, asserted
        # non-vacuously by the >= 4 check below.
        n = sum(t2.count(bad) for bad, _ in trainprep.MOJIBAKE_TABLE)
        fixed = t2
        for bad, good in trainprep.MOJIBAKE_TABLE:
            fixed = fixed.replace(bad, good)
        exp_fp = hashlib.md5(fixed.encode("utf-8")).hexdigest()
        assert got[doc_id] == (n, exp_fp), doc_id
        if doc_id % 3 == 0:
            assert n >= 4  # the injection really exercised the repair
        else:
            assert n == 0 and fixed == t2  # untouched docs pass through


def test_domain_blocklist_recompute(spark, corpus, tables):
    """Suffix-chain semantics recomputed in pure Python: a host is
    blocked iff any label-suffix (down to 2 labels) is a blocklist
    rule, and the reported rule is the lexicographic min of the
    matching suffixes."""
    df, by_id = corpus
    rules = {
        f"{s}.example.com"
        for s in {r.source for r in by_id.values()}
        if int(s.lstrip("src")) % 3 == 0
    }
    got = {
        r.doc_id: (r.host, r.blocked, r.rule)
        for r in trainprep.domain_blocklist_filter(spark, tables).collect()
    }
    assert len(got) == len(by_id)
    subdomain_hit = False
    for doc_id, row in by_id.items():
        pre = "cdn." if doc_id % 4 == 0 else ("www." if doc_id % 4 == 1 else "")
        host = f"{pre}{row.source}.example.com"
        labels = host.split(".")
        sufs = [".".join(labels[i:]) for i in range(len(labels) - 1)]
        matched = sorted(s for s in sufs if s in rules)
        exp = (host, bool(matched), matched[0] if matched else None)
        assert got[doc_id] == exp, doc_id
        if matched and pre:
            subdomain_hit = True  # a subdomain host blocked by a PARENT rule
    assert subdomain_hit


def test_negative_sampling_recompute(spark, corpus, tables):
    import math

    _, by_id = corpus
    cnt: dict[str, int] = {}
    for r in by_id.values():
        for tok in tokenize(r.text):
            cnt[tok] = cnt.get(tok, 0) + 1
    order = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    raws = [math.sqrt(math.sqrt(float(c) ** 3)) for _, c in order]
    cum, run = [], 0.0
    for x in raws:
        run += x
        cum.append(run)
    tot = cum[-1]
    want = [
        (t_, c, round(r_ / tot, 9), round(cm / tot, 9))
        for (t_, c), r_, cm in zip(order, raws, cum)
    ][:50]
    got = [
        (r.term, r.cnt, r.prob, r.cum_prob)
        for r in trainprep.negative_sampling_table(spark, tables).collect()
    ]
    assert got == want
    # CDF sanity: strictly increasing, last overall value would be 1.0
    assert all(b[3] > a[3] for a, b in zip(got, got[1:]))


def test_crawl_snapshot_diff_recompute(spark, corpus, tables):
    _, by_id = corpus
    want: dict[tuple[str, str], int] = {}
    for d, r in by_id.items():
        in_a = d % 11 != 0
        in_b = d % 7 != 3
        if not in_a and not in_b:
            continue
        if not in_a:
            st = "added"
        elif not in_b:
            st = "gone"
        elif d % 5 == 0:
            st = "changed"
        else:
            st = "unchanged"
        key = (r.source, st)
        want[key] = want.get(key, 0) + 1
    got = {
        (r.source, r.status): r.n_urls
        for r in trainprep.crawl_snapshot_diff(spark, tables).collect()
    }
    assert got == want
    # every status class is genuinely exercised
    assert {s for _, s in got} == {"added", "gone", "changed", "unchanged"}


def test_robots_filter_recompute(spark, corpus, tables):
    import hashlib

    _, by_id = corpus
    want: dict[tuple[str, str], int] = {}
    rules_by_src: dict[str, list[tuple[str, int]]] = {}
    allow_hole_hit = False
    for d, r in by_id.items():
        src = r.source
        if src not in rules_by_src:
            h = hashlib.md5(src.encode()).hexdigest()
            rules_by_src[src] = [
                ("/" + h[:1], 0),
                ("/" + h[:2], 1),
                ("/" + h[8:9], 0),
            ]
        path = "/" + hashlib.md5(str(d).encode()).hexdigest()[:3]
        best = None
        for pfx, allowed in rules_by_src[src]:
            if path.startswith(pfx):
                v = 2 * len(pfx) + allowed
                best = v if best is None else max(best, v)
        verdict = "allow" if best is None or best % 2 == 1 else "disallow"
        if best is not None and best % 2 == 1:
            # longest-match allow OVERRODE a shorter disallow (the
            # allow-hole shape naive matchers get wrong)
            allow_hole_hit = True
        key = (src, verdict)
        want[key] = want.get(key, 0) + 1
    got = {
        (r.source, r.verdict): r.n_urls
        for r in trainprep.robots_filter(spark, tables).collect()
    }
    assert got == want
    assert {v for _, v in got} == {"allow", "disallow"}
    assert allow_hole_hit  # the tie-break/override branch is exercised


def test_readability_recompute(spark, corpus, tables):
    import re

    _, by_id = corpus
    out = {r.doc_id: r for r in textstats.readability(spark, tables).collect()}
    assert set(out) == set(by_id)
    bands_seen = set()
    for d, r in by_id.items():
        w = len(r.text.strip().split())
        s = max(len(re.findall(r"[.!?]+", r.text)), 1)
        y = max(len(re.findall(r"[aeiouy]+", r.text.lower())), 1)
        fl = 206.835 - 1.015 * (w / s) - 84.6 * (y / w)
        row = out[d]
        assert (row.n_words, row.n_sents, row.n_syllables) == (w, s, y)
        # row.flesch is round(fl, 4); allow the half-ulp-of-rounding band
        assert abs(row.flesch - fl) <= 5.0001e-5
        band = (
            "easy"
            if row.flesch >= 70
            else "standard"
            if row.flesch >= 50
            else "difficult"
            if row.flesch >= 30
            else "very_difficult"
        )
        assert row.band == band
        bands_seen.add(row.band)
    assert len(bands_seen) >= 2  # banding is non-vacuous on the corpus


def test_connected_components_recompute(spark, corpus, tables):
    from collections import defaultdict

    from unichem2index_spark.functions.hashing import CC_BUCKET_TARGET
    from unichem2index_spark.operators import dedup

    _, by_id = corpus
    ids = sorted(by_id)
    n_buckets = max(math.ceil(len(ids) / CC_BUCKET_TARGET), 1)
    byb = defaultdict(list)
    for d in ids:
        byb[((d % MOD + 7) * FP_MULT) % MOD % n_buckets].append(d)
    # union-find with min-id roots over bucket-adjacent pairs
    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for mem in byb.values():
        for a, b in zip(mem, mem[1:]):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want: dict[int, int] = defaultdict(int)
    for d in ids:
        want[find(d)] += 1
    got = {
        r.component_id: r.size
        for r in dedup.connected_components(spark, tables).collect()
    }
    assert got == dict(want)
    # non-vacuous: multiple clusters AND multi-member clusters exist,
    # and at least one chain is long enough to need >1 propagation round
    assert len(got) > 1
    assert max(got.values()) >= 3



def test_ndcg_eval_recompute(spark, corpus, tables):
    df, by_id = corpus
    # python recompute over the same corpus: BM25 ranking + graded nDCG
    from unichem2index_spark.functions.bm25 import Bm25Oracle

    orc = Bm25Oracle([(d, tokenize(r.text)) for d, r in by_id.items()])
    k = 10
    ranked = orc.topk(["merge", "vector"], k)
    w = [1.0 / math.log2(p + 1) for p in range(1, k + 1)]

    def rel(d):
        toks = set(tokenize(by_id[d].text))
        return 2 * ("key" in toks) + ("vector" in toks)

    gains = [(1 << rel(d)) - 1 for d, _ in ranked]
    dcg = 0.0
    for i, g in enumerate(gains):
        dcg += g * w[i]
    idcg = 0.0
    for i, g in enumerate(sorted(gains, reverse=True)):
        idcg += g * w[i]
    row = Q.ndcg_eval(df, ["merge", "vector"], k, "key", "vector").collect()[0]
    assert abs(row.dcg - dcg) < 1e-4
    assert abs(row.idcg - idcg) < 1e-4
    assert abs(row.ndcg - dcg / idcg) < 1e-4
    assert 0.0 < row.ndcg < 1.0  # graded judgments genuinely mixed
    assert len(set(gains)) >= 2


def test_normalize_text_recompute(spark, corpus, tables):
    import re
    import unicodedata

    _, by_id = corpus
    out = {
        r.doc_id: r for r in trainprep.normalize_text(spark, tables).collect()
    }
    assert set(out) == set(by_id)
    table = str.maketrans(trainprep.NORM_SRC, trainprep.NORM_DST)
    n_folded = 0
    for d, r in by_id.items():
        if d % 3 == 0:
            itext = trainprep.NORM_INJ_PRE + r.text
        elif d % 5 == 0:
            itext = r.text + trainprep.NORM_INJ_SUF
        else:
            itext = r.text
        low = itext.lower()
        flt = low.translate(table)
        norm = re.sub(r"\s+", " ", flt).strip()
        row = out[d]
        assert row.folded == int(flt != low)
        assert row.n_chars_norm == len(norm)
        n_folded += row.folded
        # the fold is the NFKD+strip subset for these code points
        ref = "".join(
            unicodedata.normalize("NFD", ch)[0] if ch in trainprep.NORM_SRC
            else ch
            for ch in low
        )
        assert flt == ref
    assert n_folded > 100  # injection keeps the fold non-vacuous


def test_winnowing_recompute(spark, corpus, tables):
    import hashlib

    from unichem2index_spark.operators import dedup

    _, by_id = corpus
    k, w = dedup.WINNOW_K, dedup.WINNOW_W
    out = {
        r.doc_id: r
        for r in dedup.winnowing_fingerprints(spark, tables).collect()
    }
    assert set(out) == set(by_id)
    for d, r in by_id.items():
        toks = tokenize(r.text)
        m = max(len(toks) - (k - 1), 0)
        enc = [
            hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8]
            + ":"
            + str(99999 - (i + 1)).zfill(5)
            for i in range(m)
        ]
        if m == 0:
            fps = []
        else:
            n_win = max(m - (w - 1), 1)
            seen = []
            for j in range(n_win):
                p = min(enc[j : j + w])
                if p not in seen:
                    seen.append(p)
            fps = seen
        digest = hashlib.md5(",".join(sorted(fps)).encode()).hexdigest()
        row = out[d]
        assert row.n_fps == len(fps), d
        assert row.fp_digest == digest, d
        # winnowing density: ~1/w of the k-gram positions, never more
        # than the window count, and >=1 whenever any k-gram exists
        if m:
            assert 1 <= row.n_fps <= max(m - (w - 1), 1)


def test_ltr_features_recompute(spark, corpus, tables):
    from collections import Counter

    from unichem2index_spark.functions.bm25 import Bm25Oracle

    df, by_id = corpus
    k = 20
    orc = Bm25Oracle([(d, tokenize(r.text)) for d, r in by_id.items()])
    ranked = orc.topk(["merge", "vector"], k)
    rows = Q.ltr_features(df, ["merge", "vector"], k, "key", "vector").collect()
    assert [r.doc_id for r in rows] == [d for d, _ in ranked]
    labels = set()
    for r in rows:
        toks = tokenize(by_id[r.doc_id].text)
        cnt = Counter(toks)
        matched = [t for t in ("merge", "vector") if cnt[t] > 0]
        assert r.n_matched == len(matched)
        assert r.sum_tf == sum(cnt[t] for t in matched)
        assert r.doclen == len(toks)
        assert r.label == 2 * ("key" in cnt) + ("vector" in cnt)
        labels.add(r.label)
    assert len(labels) >= 2  # labels genuinely graded in the export


def test_shard_manifest_recompute(spark, corpus, tables, monkeypatch):
    from collections import defaultdict

    _, by_id = corpus
    B = trainprep.SHARD_BYTES
    per_src: dict[str, list] = defaultdict(list)
    for d in sorted(by_id):
        r = by_id[d]
        per_src[r.source].append((d, r.n_chars))
    want = {}
    for src, docs in per_src.items():
        off = 0
        for d, n in docs:
            sid = off // B
            key = (src, sid)
            if key not in want:
                want[key] = [0, 0, d, d]
            w = want[key]
            w[0] += 1
            w[1] += n
            w[3] = d
            off += n
    def manifest():
        return {
            (r.source, r.shard_id):
                [r.n_docs, r.shard_bytes, r.first_doc, r.last_doc]
            for r in trainprep.shard_manifest(spark, tables).collect()
        }

    got = manifest()
    assert got == {k: list(v) for k, v in want.items()}
    # Small id blocks put many blocks in each source, so the level-2
    # block offsets carry most of every start offset.
    for block in (1, 7):
        monkeypatch.setattr(trainprep, "SHARD_BLOCK", block)
        assert manifest() == got, block
    # byte budget actually splits sources into multiple shards
    assert max(sid for _, sid in got) >= 1
    # no shard (except possibly a single-doc overflow) exceeds budget + one doc
    for (src, sid), (nd, nb, fd, ld) in got.items():
        assert nd >= 1 and nb > 0


def test_cdc_chunks_recompute(spark, corpus, tables):
    import hashlib

    from unichem2index_spark.operators import dedup

    _, by_id = corpus
    out = {r.doc_id: r for r in dedup.cdc_chunks(spark, tables).collect()}
    assert set(out) == set(by_id)
    for d, r in by_id.items():
        toks = tokenize(r.text)
        chunks, cur = [], []
        for tk in toks:
            cur.append(tk)
            if hashlib.md5(tk.encode()).hexdigest()[0] == "0":
                chunks.append(" ".join(cur))
                cur = []
        if cur:
            chunks.append(" ".join(cur))
        hashes = [hashlib.md5(c.encode()).hexdigest() for c in chunks]
        digest = hashlib.md5(",".join(hashes).encode()).hexdigest()
        row = out[d]
        assert row.n_toks == len(toks)
        assert row.n_chunks == len(chunks), d
        assert row.chunks_digest == digest, d


def test_cdc_shift_invariance(spark, corpus, tables):
    """The CDC property itself: prepending tokens to a doc changes only
    the FIRST chunk hashes; every chunk after the first new boundary is
    identical - fixed-size blocking would shift every block."""
    import hashlib

    def cdc(toks):
        chunks, cur = [], []
        for tk in toks:
            cur.append(tk)
            if hashlib.md5(tk.encode()).hexdigest()[0] == "0":
                chunks.append(hashlib.md5(" ".join(cur).encode()).hexdigest())
                cur = []
        if cur:
            chunks.append(hashlib.md5(" ".join(cur).encode()).hexdigest())
        return chunks

    _, by_id = corpus
    checked = 0
    for d, r in list(by_id.items())[:30]:
        toks = tokenize(r.text)
        if len(toks) < 20:
            continue
        base = cdc(toks)
        shifted = cdc(["inserted", "preamble"] + toks)
        if len(base) >= 3:
            # all chunks after the first boundary survive the insertion
            assert base[1:] == shifted[-(len(base) - 1):]
            checked += 1
    assert checked >= 5


def test_simhash_hamming_recompute(spark, corpus, tables):
    from unichem2index_spark.operators import dedup

    _, by_id = corpus
    sims = {
        r.doc_id: r.simhash
        for r in dedup.simhash_docs(tables["documents"]).collect()
    }
    ids = sorted(sims)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            hd = bin(sims[a] ^ sims[b]).count("1")
            if hd <= dedup.SIMHASH_HAMMING_MAX:
                want[(a, b)] = hd
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_hamming_pairs(spark, tables).collect()
    }
    # band blocking is EXACT for k < n_bands: zero missed pairs vs the
    # all-pairs brute force, zero extras (the pigeonhole guarantee)
    assert got == want
    assert set(got.values()) == set(range(dedup.SIMHASH_HAMMING_MAX + 1))


def test_prf_expansion_recompute(spark, corpus, tables):
    from collections import Counter

    from unichem2index_spark.functions.bm25 import Bm25Oracle

    df, by_id = corpus
    terms, fb_k, n_terms = ["merge", "vector"], 5, 15
    orc = Bm25Oracle([(d, tokenize(r.text)) for d, r in by_id.items()])
    fb = [d for d, _ in orc.topk(terms, fb_k)]
    # brute-force expansion weights
    n_docs = len(by_id)
    docs_tok = {d: tokenize(r.text) for d, r in by_id.items()}
    dfreq: dict[str, int] = Counter()
    for toks in docs_tok.values():
        for w in set(toks):
            dfreq[w] += 1
    mass: dict[str, float] = {}
    nfb: dict[str, int] = Counter()
    for d in sorted(fb):
        toks = docs_tok[d]
        cnt = Counter(toks)
        for w, tf in cnt.items():
            if w in terms:
                continue
            mass[w] = mass.get(w, 0.0) + tf / len(toks)
            nfb[w] += 1
    scored = sorted(
        (
            (
                round(
                    math.log(
                        1.0 + (n_docs - dfreq[w] + 0.5) / (dfreq[w] + 0.5)
                    )
                    * m,
                    6,
                ),
                w,
            )
            for w, m in mass.items()
        ),
        key=lambda x: (-x[0], x[1]),
    )[:n_terms]
    got = [
        (r.term, r.weight, r.n_fb_docs)
        for r in Q.prf_expansion(df, terms, fb_k, n_terms).collect()
    ]
    assert [(t, w) for w, t in scored] == [(t, w) for t, w, _ in got]
    for t, _, n in got:
        assert n == nfb[t]
    # expansion is non-vacuous: query terms excluded, weights vary
    assert not {t for t, _, _ in got} & set(terms)
    assert len({w for _, w, _ in got}) >= 3


def test_dedup_consensus_set_algebra(spark, corpus, tables):
    """The vote is pure set algebra over three independently
    oracle-verified detectors: flags imply membership, n_methods is
    the flag sum, and every >=2-vote pair appears."""
    from unichem2index_spark.operators import dedup

    mh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(spark, tables, 0.8)
        .select("doc_a", "doc_b")
        .collect()
    }
    sh = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_hamming_pairs(spark, tables).collect()
    }
    ng = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, tables, 0.5)
        .select("doc_a", "doc_b")
        .collect()
    }
    got = {
        (r.doc_a, r.doc_b): r
        for r in dedup.dedup_consensus_pairs(spark, tables).collect()
    }
    want = {
        p
        for p in mh | sh | ng
        if (p in mh) + (p in sh) + (p in ng) >= 2
    }
    assert set(got) == want
    for p, r in got.items():
        assert r.via_minhash == int(p in mh)
        assert r.via_simhash == int(p in sh)
        assert r.via_jaccard == int(p in ng)
        assert r.n_methods == r.via_minhash + r.via_simhash + r.via_jaccard
    assert any(r.n_methods == 3 for r in got.values())


def test_rocchio_knn_recompute(spark, corpus, tables):
    from unichem2index_spark.functions.bm25 import Bm25Oracle
    from unichem2index_spark.operators import similarity as S

    df, by_id = corpus
    terms, fb_k, k = ["merge", "vector"], 5, 10
    orc = Bm25Oracle([(d, tokenize(r.text)) for d, r in by_id.items()])
    fb = sorted(d for d, _ in orc.topk(terms, fb_k))
    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in tables["embeddings"].collect()
    }
    dim = len(next(iter(emb.values())))
    cent = [0.0] * dim
    for d in fb:  # vec_id-sorted fold, same as both engines
        for i, x in enumerate(emb[d]):
            cent[i] += x
    cent = [x / fb_k for x in cent]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    want = sorted(
        ((round(cos(cent, v), 6), vid) for vid, v in emb.items()
         if vid not in set(fb)),
        key=lambda x: (-x[0], x[1]),
    )[:k]
    got = [
        (r.rank, r.vec_id, r.cosine)
        for r in S.rocchio_knn(spark, tables, terms, fb_k, k).collect()
    ]
    assert [(v, c) for r, v, c in got] == [
        (vid, pytest.approx(c, abs=2e-6)) for c, vid in want
    ]
    assert [r for r, _, _ in got] == list(range(1, k + 1))
    # feedback docs themselves are excluded from the result
    assert not {v for _, v, _ in got} & set(fb)


def test_textrank_recompute(spark, corpus, tables):
    from collections import defaultdict

    _, by_id = corpus
    # rebuild the weighted +-2-window co-occurrence graph, 2 PR iters
    wtab: dict[tuple[str, str], int] = defaultdict(int)
    for r in by_id.values():
        toks = tokenize(r.text)
        for i in range(len(toks)):
            for j in (i + 1, i + 2):
                if j < len(toks) and toks[i] != toks[j]:
                    a, b = sorted((toks[i], toks[j]))
                    wtab[(a, b)] += 1
    edges = {}
    for (a, b), w in wtab.items():
        edges[(a, b)] = w
        edges[(b, a)] = w
    nodes = sorted({s for s, _ in edges})
    n = len(nodes)
    strength = defaultdict(int)
    for (s, _), w in edges.items():
        strength[s] += w
    pr = {t_: 1.0 / n for t_ in nodes}
    for _ in range(2):
        contrib = defaultdict(list)
        for (s, d), w in edges.items():
            contrib[d].append((s, pr[s] * w / strength[s]))
        new = {}
        for t_ in nodes:
            c = 0.0
            for _, v in sorted(contrib.get(t_, [])):
                c += v
            new[t_] = 0.15 / n + 0.85 * c
        pr = new
    want = sorted(
        ((round(v, 9), t_) for t_, v in pr.items()),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    got = [
        (r.term, r.textrank)
        for r in textstats.textrank_keywords(spark, tables).collect()
    ]
    assert got == [(t_, v) for v, t_ in want]
    assert len({v for _, v in got}) >= 3  # mass genuinely differentiates


def test_triangle_count_recompute(spark, corpus, tables):
    from itertools import combinations

    from unichem2index_spark.operators import webgraph

    _, by_id = corpus
    n = len(by_id)
    und = set()
    for d in by_id:
        for j in (1, 2, 3):
            dst = ((d % MOD + j) * FP_MULT) % MOD % n
            if dst != d:
                und.add((min(d, dst), max(d, dst)))
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = defaultdict_int = {}
    for a, b in und:
        common = adj[a] & adj[b]
        for c in common:
            trip = tuple(sorted((a, b, c)))
            tri[trip] = True
    per_node = {}
    for a, b, c in tri:
        for x in (a, b, c):
            per_node[x] = per_node.get(x, 0) + 1
    got = {
        r.doc_id: (r.degree, r.n_triangles, r.clustering)
        for r in webgraph.triangle_count(spark, tables).collect()
    }
    assert set(got) == set(by_id)
    total_tri_spark = sum(v[1] for v in got.values())
    assert total_tri_spark == 3 * len(tri)
    for d, (deg, nt, cl) in got.items():
        assert deg == len(adj.get(d, ()))
        assert nt == per_node.get(d, 0)
        if deg >= 2:
            assert abs(cl - round(2.0 * nt / (deg * (deg - 1)), 6)) < 1e-9
        else:
            assert cl == 0.0
    assert len(tri) > 0  # the derived graph genuinely has triangles


def test_postings_size_recompute(spark, corpus, tables):
    from collections import defaultdict

    _, by_id = corpus
    post = defaultdict(set)
    for d, r in by_id.items():
        for w in set(tokenize(r.text)):
            post[w].add(d)

    def vb(g):
        for i, lim in enumerate((128, 16384, 2097152, 268435456), 1):
            if g < lim:
                return i
        return 5

    out = {
        r.term: r
        for r in textstats.postings_size_estimate(spark, tables).collect()
    }
    assert set(out) == set(post)
    for w, ids in post.items():
        ids = sorted(ids)
        gaps = [ids[0] + 1] + [b - a for a, b in zip(ids, ids[1:])]
        nb = sum(vb(g) for g in gaps)
        row = out[w]
        assert row.df == len(ids)
        assert row.encoded_bytes == nb
        assert abs(row.bytes_per_posting - round(nb / len(ids), 6)) < 1e-9
    # gap coding pays: high-df terms cost ~1 byte/posting
    dense = max(out.values(), key=lambda r: r.df)
    assert dense.bytes_per_posting < 1.5


def test_next_event_markov_recompute(spark, corpus, tables):
    from collections import defaultdict

    from unichem2index_spark.operators import eventseq

    ev = sorted(
        tables["events"].collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    cnt = defaultdict(int)
    prev_by_user = {}
    for r in ev:
        p = prev_by_user.get(r.user_id)
        if p is not None:
            cnt[(p, r.event_type)] += 1
        prev_by_user[r.user_id] = r.event_type
    tot = defaultdict(int)
    for (f, _), n in cnt.items():
        tot[f] += n
    got = {
        (r.from_type, r.to_type): (r.n, r.p)
        for r in eventseq.next_event_markov(spark, tables).collect()
    }
    assert set(got) == set(cnt)
    for k, (n, p) in got.items():
        assert n == cnt[k]
        assert abs(p - round(cnt[k] / tot[k[0]], 6)) < 1e-9
    # probabilities per from-state sum to ~1
    by_from = defaultdict(float)
    for (f, _), (_, p) in got.items():
        by_from[f] += p
    assert all(abs(s - 1.0) < 1e-4 for s in by_from.values())


def test_query_likelihood_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    total = sum(len(ts) for ts in toks.values())
    cf = {
        t: sum(ts.count(t) for ts in toks.values()) for t in terms
    }
    kept = [t for t in terms if cf[t] > 0]
    mu = textstats.QL_MU
    p_mu = {t: mu * (cf[t] / total) for t in kept}
    const_q = sum(_m.log(p_mu[t]) for t in kept)
    want = {}
    for d, ts in toks.items():
        tfs = {t: ts.count(t) for t in kept if t in ts}
        if not tfs:
            continue
        want[d] = (
            const_q
            - len(kept) * _m.log(len(ts) + mu)
            + sum(_m.log(1.0 + tf / p_mu[t]) for t, tf in tfs.items())
        )
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = textstats.query_likelihood_topk(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r.score - round(s, 6)) < 1e-6
    # LM scoring is a real ranking: scores strictly ordered, all negative
    assert all(a.score >= b.score for a, b in zip(got, got[1:]))
    assert all(r.score < 0 for r in got)


def test_champion_lists_recompute(spark, corpus, tables):
    from collections import Counter, defaultdict

    _, by_id = corpus
    tf = defaultdict(Counter)
    for d, r in by_id.items():
        for w in tokenize(r.text):
            tf[w][d] += 1
    got = {r.term: r for r in
           textstats.champion_lists(spark, tables).collect()}
    assert set(got) == set(tf)
    for w, cnt in tf.items():
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        row = got[w]
        assert row.df == len(cnt)
        assert row.champion_ids == ",".join(str(d) for d, _ in top)
        assert row.champion_tfs == ",".join(str(n) for _, n in top)


def test_docid_remap_recompute(spark, corpus, tables):
    from collections import defaultdict

    _, by_id = corpus
    order = sorted(by_id, key=lambda d: (by_id[d].source, by_id[d].lang, d))
    new_id = {d: i for i, d in enumerate(order)}

    def vb(g):
        for i, lim in enumerate((128, 16384, 2097152, 268435456), 1):
            if g < lim:
                return i
        return 5

    def total_bytes(idmap):
        post = defaultdict(set)
        for d, r in by_id.items():
            for w in set(tokenize(r.text)):
                post[w].add(idmap(d))
        tot = 0
        for ids in post.values():
            ids = sorted(ids)
            gaps = [ids[0] + 1] + [b - a for a, b in zip(ids, ids[1:])]
            tot += sum(vb(g) for g in gaps)
        return tot

    row = textstats.docid_remap_gap_bytes(spark, tables).collect()[0]
    orig = total_bytes(lambda d: d)
    remap = total_bytes(lambda d: new_id[d])
    assert row.orig_bytes == orig
    assert row.remap_bytes == remap
    assert abs(row.bytes_ratio - round(remap / orig, 6)) < 1e-9
    n_post = sum(len(set(tokenize(r.text))) for r in by_id.values())
    assert row.n_postings == n_post


def test_sibling_buckets_recompute(spark, tables):
    from collections import Counter

    ev = tables["events"].collect()
    days = Counter(r.ts.date() for r in ev)
    row = textstats.sibling_bucket_aggs(spark, tables).collect()[0]
    assert row.n_buckets == len(days)
    assert row.min_bucket == min(days.values())
    assert row.max_bucket == max(days.values())
    assert row.sum_bucket == sum(days.values()) == len(ev)
    assert abs(
        row.avg_bucket - round(sum(days.values()) / len(days), 6)
    ) < 1e-9


def test_bloom_prefilter_recompute(spark, corpus, tables):
    import hashlib

    from unichem2index_spark.operators import dedup

    _, by_id = corpus
    m = dedup.BLOOM_M

    def positions(text):
        hx = hashlib.md5(text.encode()).hexdigest()
        return [int(hx[8 * j: 8 * j + 7], 16) % m for j in range(3)]

    bits, base_hx = set(), set()
    for d, r in by_id.items():
        if d % 10 != 0:
            bits.update(positions(r.text))
            base_hx.add(hashlib.md5(r.text.encode()).hexdigest())
    got = {r.doc_id: r for r in
           dedup.bloom_prefilter(spark, tables).collect()}
    probes = [d for d in by_id if d % 10 == 0]
    assert set(got) == set(probes)
    for d in probes:
        txt = by_id[d].text
        want_hit = int(all(p in bits for p in positions(txt)))
        want_ex = int(hashlib.md5(txt.encode()).hexdigest() in base_hx)
        assert got[d].bloom_hit == want_hit
        assert got[d].exact_dup == want_ex
        # Bloom contract: no false negatives
        assert not (want_ex == 1 and got[d].bloom_hit == 0)


def test_bm25_plus_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    df = {
        t: sum(1 for ts in toks.values() if t in ts) for t in terms
    }
    delta = textstats.BM25_PLUS_DELTA
    want = {}
    for d, ts in toks.items():
        s = 0.0
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                continue
            idf = _m.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (
                tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)) + delta
            )
        if s:
            want[d] = s
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = textstats.bm25_plus_topk(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r.score - round(s, 6)) < 1e-6
    # the delta lower-bounds every matched term's contribution
    min_idf = min(
        _m.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5)) for t in terms
    )
    assert all(r.score >= round(min_idf * delta, 6) for r in got)


def test_intersect_estimate_recompute(spark, corpus, tables):
    from collections import Counter, defaultdict

    _, by_id = corpus
    post = defaultdict(set)
    for d, r in by_id.items():
        for w in set(tokenize(r.text)):
            post[w].add(d)
    dfs = Counter({w: len(s) for w, s in post.items()})
    top = sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    n = len(by_id)
    got = {(r.term_a, r.term_b): r for r in
           textstats.intersect_estimate(spark, tables).collect()}
    want_pairs = {
        (a, b)
        for i, (a, _) in enumerate(top)
        for b, _ in top[i + 1:]
    }
    # pairs are emitted in lexicographic (a < b) orientation
    want_pairs = {tuple(sorted(p)) for p in want_pairs}
    assert set(got) == want_pairs
    dfd = dict(top)
    for (a, b), r in got.items():
        actual = len(post[a] & post[b])
        est = dfd[a] * dfd[b] / n
        assert (r.df_a, r.df_b) == (dfd[a], dfd[b])
        assert r.actual == actual
        assert abs(r.est_independent - round(est, 6)) < 1e-9
        assert abs(r.err_ratio - round(actual / est, 6)) < 1e-9


def _bm25_kernel(n, df, tf, dl, avgdl):
    import math as _m

    return _m.log(1.0 + (n - df + 0.5) / (df + 0.5)) * (
        tf / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    )


def test_static_prune_recompute(spark, corpus, tables):
    from collections import defaultdict

    _, by_id = corpus
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    scores = defaultdict(list)
    tf_all = {
        (d, w): ts.count(w)
        for d, ts in toks.items()
        for w in set(ts)
    }
    df = defaultdict(int)
    for (_, w) in tf_all:
        df[w] += 1
    for (d, w), tf in tf_all.items():
        scores[w].append(_bm25_kernel(n, df[w], tf, dl[d], avgdl))
    got = {r.term: r for r in
           textstats.static_prune_audit(spark, tables).collect()}
    assert set(got) == set(scores)
    lam = textstats.PRUNE_LAMBDA
    for w, ss in scores.items():
        kept = sum(1 for s in ss if s >= lam * max(ss))
        row = got[w]
        assert row.df == len(ss)
        assert row.kept == kept
        assert abs(row.kept_ratio - round(kept / len(ss), 6)) < 1e-9
        assert 1 <= row.kept <= row.df  # the top posting always survives


def test_best_passage_recompute(spark, corpus, tables):
    _, by_id = corpus
    terms = {"the", "merge", "vector"}
    w = textstats.PASSAGE_W
    want = {}
    for d, r in by_id.items():
        ts = tokenize(r.text)
        qpos = [i + 1 for i, x in enumerate(ts) if x in terms]
        if not qpos:
            continue
        best = min(
            (
                -len({ts[p - 1] for p in qpos if s <= p < s + w}),
                s,
            )
            for s in qpos
        )
        want[d] = (-best[0], best[1],
                   " ".join(ts[best[1] - 1: best[1] - 1 + w]))
    top = sorted(want.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    got = textstats.best_passage(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, (nt, st, passage)) in zip(got, top):
        assert (r.n_terms, r.start, r.passage) == (nt, st, passage)
        # the window really contains that many distinct query terms
        assert len(set(r.passage.split()) & terms) == r.n_terms


def test_rank_correlation_recompute(spark, corpus, tables):
    import math as _m

    got = textstats.rank_correlation(spark, tables).collect()[0]
    a = [r.doc_id for r in
         textstats.bm25_plus_topk(spark, tables, delta=0.0, k=20)
         .collect()]
    b = [r.doc_id for r in
         textstats.query_likelihood_topk(spark, tables, k=20).collect()]
    ra = {d: i + 1 for i, d in enumerate(a)}
    rb = {d: i + 1 for i, d in enumerate(b)}
    common = sorted(set(ra) & set(rb))
    assert got.n_common == len(common)
    conc = disc = 0
    for i, x in enumerate(common):
        for y in common[i + 1:]:
            s = (ra[x] - ra[y]) * (rb[x] - rb[y])
            conc, disc = conc + (s > 0), disc + (s < 0)
    npairs = len(common) * (len(common) - 1) // 2
    tau = (conc - disc) / npairs if npairs else 0.0
    assert abs(got.kendall_tau - round(tau, 6)) < 1e-6
    p = textstats.RBO_P
    rbo = (1.0 - p) * sum(
        sum(1 for d in common if max(ra[d], rb[d]) <= k) / k
        * p ** (k - 1)
        for k in range(1, 21)
    )
    assert abs(got.rbo - round(rbo, 6)) < 1e-5
    assert -1.0 <= got.kendall_tau <= 1.0 and 0.0 <= got.rbo <= 1.0


def test_char_entropy_recompute(spark, corpus, tables):
    import math as _m
    from collections import Counter

    _, by_id = corpus
    got = {r.doc_id: r for r in
           textstats.char_entropy(spark, tables).collect()}
    assert set(got) == set(by_id)
    for d, r in by_id.items():
        cnt = Counter(r.text)
        n = sum(cnt.values())
        ent = -sum(
            (c / n) * (_m.log(c / n) / _m.log(2.0))
            for _, c in sorted(cnt.items())
        )
        row = got[d]
        assert row.n_chars_counted == n
        assert row.n_symbols == len(cnt)
        assert abs(row.entropy_bits - round(ent, 6)) < 1e-6
        assert row.low_entropy == int(ent < textstats.ENTROPY_LOW_BITS)
    # word-soup text: entropy sits in the natural-language band
    assert all(2.5 < r.entropy_bits < 6.0 for r in got.values())


def test_source_kl_recompute(spark, corpus, tables):
    import math as _m
    from collections import Counter, defaultdict

    _, by_id = corpus
    per_src = defaultdict(Counter)
    corpus_cnt = Counter()
    for r in by_id.values():
        ts = tokenize(r.text)
        per_src[r.source].update(ts)
        corpus_cnt.update(ts)
    n_all = sum(corpus_cnt.values())
    got = {r.source: r for r in
           textstats.source_kl(spark, tables).collect()}
    assert set(got) == set(per_src)
    for s, cnt in per_src.items():
        n = sum(cnt.values())
        kl = sum(
            (c / n) * _m.log((c / n) / (corpus_cnt[w] / n_all))
            for w, c in sorted(cnt.items())
        )
        row = got[s]
        assert (row.n_tokens, row.vocab) == (n, len(cnt))
        assert abs(row.kl_nats - round(kl, 6)) < 1e-6
        assert row.kl_nats >= 0.0  # Gibbs' inequality


def test_mmr_rerank_recompute(spark, tables):
    from unichem2index_spark.operators import similarity

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in tables["embeddings"].collect()
    }

    def cos(a, b):
        dot = n1 = n2 = 0.0
        for x, y in zip(a, b):
            dot += x * y
            n1 += x * x
            n2 += y * y
        return round(dot / (n1 ** 0.5 * n2 ** 0.5), 6)

    q = emb[0]
    rel = {v: cos(q, emb[v]) for v in emb if v >= 5}
    cand = sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    rel = dict(cand)
    lam, beta = similarity.MMR_LAMBDA, similarity.MMR_BETA
    picked, want_mmr = [], []
    while len(picked) < 10:
        best = None
        for c in rel:
            if c in picked:
                continue
            ms = max((cos(emb[c], emb[s]) for s in picked), default=0.0)
            key = (-(lam * rel[c] - beta * ms), c)
            if best is None or key < best:
                best = key
        picked.append(best[1])
        want_mmr.append(round(-best[0], 6))
    got = similarity.mmr_rerank(spark, tables).collect()
    assert [r.vec_id for r in got] == picked
    assert [r.rank for r in got] == list(range(1, 11))
    for r, m in zip(got, want_mmr):
        assert abs(r.mmr - m) < 2e-6
    # diversification really happened: mmr scores are non-increasing
    assert all(a.mmr >= b.mmr - 2e-6 for a, b in zip(got, got[1:]))


def test_containment_recompute(spark, corpus, tables):
    from collections import defaultdict

    from unichem2index_spark.operators import dedup

    _, by_id = corpus
    shing = {}
    for d, r in by_id.items():
        ts = tokenize(r.text)
        shing[d] = {
            " ".join(ts[i: i + 3]) for i in range(len(ts) - 2)
        } if len(ts) >= 3 else set()
    df = defaultdict(int)
    for s in shing.values():
        for x in s:
            df[x] += 1
    rare = {x for x, c in df.items() if c <= dedup.NGRAM_DF_CAP}
    got = {(r.doc_a, r.doc_b): r for r in
           dedup.containment_pairs(spark, tables).collect()}
    want = {}
    ids = sorted(shing)
    for a in ids:
        if not shing[a]:
            continue
        for b in ids:
            if a == b or not (shing[a] & shing[b] & rare):
                continue
            inter = len(shing[a] & shing[b])
            c = round(inter / len(shing[a]), 6)
            if c >= dedup.CONTAINMENT_TAU:
                want[(a, b)] = (inter, c)
    assert set(got) == set(want)
    for k, (inter, c) in want.items():
        assert got[k].shared_shingles == inter
        assert abs(got[k].containment - c) < 1e-9
    # each direction is normalized by ITS OWN |A|: for every emitted
    # pair the containment equals inter/|A| of the FIRST doc, and the
    # reverse direction (when present) uses the other denominator
    for (a, b), (inter, _) in want.items():
        assert abs(got[(a, b)].containment
                   - round(inter / len(shing[a]), 6)) < 1e-9
        if (b, a) in got:
            assert abs(got[(b, a)].containment
                       - round(inter / len(shing[b]), 6)) < 1e-9
    assert len(want) > 0


def test_qpp_recompute(spark, corpus, tables):
    import math as _m
    from collections import Counter

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    total = sum(len(ts) for ts in toks.values())
    n = len(by_id)
    cf = Counter()
    dfc = Counter()
    match = set()
    for d, ts in toks.items():
        for w in terms:
            c = ts.count(w)
            if c:
                cf[w] += c
                dfc[w] += 1
                match.add(d)
    kept = sorted(w for w in terms if cf[w])
    scqs = [
        (1.0 + _m.log(cf[w])) * _m.log(1.0 + n / dfc[w]) for w in kept
    ]
    ictf = sum(_m.log(total / cf[w]) for w in kept)
    row = textstats.qpp_preretrieval(spark, tables).collect()[0]
    assert row.n_terms_kept == len(kept)
    assert abs(row.scq_sum - round(sum(scqs), 6)) < 1e-6
    assert abs(row.scq_max - round(max(scqs), 6)) < 1e-6
    assert abs(row.avg_ictf - round(ictf / len(kept), 6)) < 1e-6
    assert abs(
        row.query_scope - round(-_m.log(len(match) / n), 6)
    ) < 1e-6


def test_front_coding_recompute(spark, corpus, tables):
    _, by_id = corpus
    vocab = sorted({w for r in by_id.values() for w in tokenize(r.text)})
    block = textstats.FRONT_CODE_BLOCK
    raw = sum(len(w) + 1 for w in vocab)
    front = 0
    for i, w in enumerate(vocab):
        if i % block == 0:
            front += len(w) + 1
        else:
            p = vocab[i - 1]
            lcp = 0
            for x, y in zip(p, w):
                if x != y:
                    break
                lcp += 1
            front += len(w) - lcp + 2
    row = textstats.front_coding_audit(spark, tables).collect()[0]
    assert row.n_terms == len(vocab)
    assert row.raw_bytes == raw
    assert row.front_bytes == front
    assert abs(row.bytes_ratio - round(front / raw, 6)) < 1e-9


def test_combsum_recompute(spark, corpus, tables):
    a = {r.doc_id: r.score for r in
         textstats.bm25_plus_topk(spark, tables, delta=0.0, k=20)
         .collect()}
    b = {r.doc_id: r.score for r in
         textstats.query_likelihood_topk(spark, tables, k=20).collect()}

    def norm(d):
        mn, mx = min(d.values()), max(d.values())
        return {
            k: 1.0 if mx == mn else (v - mn) / (mx - mn)
            for k, v in d.items()
        }
    na, nb = norm(a), norm(b)
    fused = {}
    for d in set(na) | set(nb):
        cs = na.get(d, 0.0) + nb.get(d, 0.0)
        nz = (d in na) + (d in nb)
        fused[d] = (cs, cs * nz, nz)
    top = sorted(fused.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10]
    got = textstats.combsum_hybrid(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, (cs, mnz, nz)) in zip(got, top):
        assert abs(r.combsum - round(cs, 6)) < 1e-6
        assert abs(r.combmnz - round(mnz, 6)) < 1e-6
        assert r.n_lists == nz
    # consensus docs (both lists) outrank single-list docs at the top
    assert got[0].n_lists == 2


def test_quantize_fidelity_recompute(spark, corpus, tables):
    import math as _m
    from collections import defaultdict

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    parts = defaultdict(list)
    for d, ts in toks.items():
        for t in terms:
            tf = ts.count(t)
            if tf:
                parts[d].append(
                    _m.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    * (tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)))
                )
    smax = max(s for ss in parts.values() for s in ss)
    es = {d: sum(ss) for d, ss in parts.items()}
    qs = {
        d: sum(int(_m.floor(s / smax * 255.0)) for s in ss)
        for d, ss in parts.items()
    }
    etop = [d for d, _ in sorted(
        es.items(), key=lambda kv: (-kv[1], kv[0]))[:20]]
    qtop = [d for d, _ in sorted(
        qs.items(), key=lambda kv: (-kv[1], kv[0]))[:20]]
    re = {d: i + 1 for i, d in enumerate(etop)}
    rq = {d: i + 1 for i, d in enumerate(qtop)}
    common = set(etop) & set(qtop)
    row = textstats.quantize_fidelity(spark, tables).collect()[0]
    assert row.k == 20
    assert row.overlap_at_k == len(common)
    assert row.footrule == sum(abs(re[d] - rq[d]) for d in common)
    # 8-bit quantization preserves most of the top-k on this corpus
    assert row.overlap_at_k >= 10


def test_quantize_fidelity_leaves_no_persisted_frame(spark, tables):
    # Query terms no other test uses: a plan already cached by an earlier
    # call would be reused and hide a new persist.
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    textstats.quantize_fidelity(spark, tables, terms=("key", "group")).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_shard_idf_drift_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    nsh = textstats.SHARD_N

    def score(doc_ids):
        nn = len(doc_ids)
        ad = sum(dl[d] for d in doc_ids) / nn
        dfc = {
            t: sum(1 for d in doc_ids if t in toks[d]) for t in terms
        }
        out = {}
        for d in doc_ids:
            s = 0.0
            for t in terms:
                tf = toks[d].count(t)
                if tf and dfc[t]:
                    s += _m.log(
                        1.0 + (nn - dfc[t] + 0.5) / (dfc[t] + 0.5)
                    ) * (tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / ad)))
            if s:
                out[d] = s
        return out

    gs = score(list(dl))
    ls = {}
    for sh in range(nsh):
        ls.update(score([d for d in dl if d % nsh == sh]))
    gtop = sorted(gs.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    ltop = sorted(ls.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    common = {d for d, _ in gtop} & {d for d, _ in ltop}
    row = textstats.shard_idf_drift(spark, tables).collect()[0]
    assert (row.k, row.n_shards) == (20, nsh)
    assert row.overlap_at_k == len(common)
    if common:
        want = max(abs(ls[d] - gs[d]) / gs[d] for d in common)
        assert abs(row.max_rel_err - round(want, 6)) < 1e-6
    # small shards genuinely drift (125 docs/shard) — which is exactly
    # why ES grew dfs_query_then_fetch; just require a sane range
    assert 0 < row.overlap_at_k <= 20 and row.max_rel_err > 0.0


def test_collocations_llr_recompute(spark, corpus, tables):
    import math as _m
    from collections import Counter

    _, by_id = corpus
    pairs = []
    for r in by_id.values():
        ts = tokenize(r.text)
        pairs += list(zip(ts, ts[1:]))
    k11 = Counter(pairs)
    rowc = Counter(a for a, _ in pairs)
    colc = Counter(b for _, b in pairs)
    nn = len(pairs)

    def xlx(x):
        return x * _m.log(x) if x > 0 else 0.0

    llr = {}
    for (a, b), c in k11.items():
        r1, c1 = rowc[a], colc[b]
        llr[(a, b)] = 2.0 * (
            xlx(c) + xlx(r1 - c) + xlx(c1 - c)
            + xlx(nn - r1 - c1 + c) + xlx(nn)
            - xlx(r1) - xlx(nn - r1) - xlx(c1) - xlx(nn - c1)
        )
    top = sorted(llr.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = textstats.collocations_llr(spark, tables).collect()
    assert [(r.a, r.b) for r in got] == [p for p, _ in top]
    for r, (p, v) in zip(got, top):
        assert r.n_bigram == k11[p]
        assert abs(r.llr - round(v, 6)) < 1e-4
    # G^2 is nonnegative everywhere in the emitted top-k
    assert all(r.llr >= 0.0 for r in got)


# ------------------------------------------- similarity-module family
def test_lm_jelinek_mercer_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    total = sum(len(ts) for ts in toks.values())
    cf = {t: sum(ts.count(t) for ts in toks.values()) for t in terms}
    lam = textstats.JM_LAMBDA
    want = {}
    for d, ts in toks.items():
        s = 0.0
        for t in terms:
            tf = ts.count(t)
            if tf == 0 or cf[t] == 0:
                continue
            p_c = cf[t] / total
            s += _m.log(1.0 + ((1.0 - lam) * tf / len(ts)) / (lam * p_c))
        if s > 0:
            want[d] = s
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = textstats.lm_jelinek_mercer_topk(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r.score - round(s, 6)) < 1e-6
    # match-only form: every emitted score is positive
    assert all(r.score > 0 for r in got)


def test_dfi_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    total = sum(len(ts) for ts in toks.values())
    cf = {t: sum(ts.count(t) for ts in toks.values()) for t in terms}
    want = {}
    for d, ts in toks.items():
        s, any_term = 0.0, False
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                continue
            any_term = True
            e = cf[t] * len(ts) / total
            if tf > e:
                s += _m.log(1.0 + (tf - e) ** 2 / e) / _m.log(2.0)
        if any_term and s > 0:
            want[d] = s
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = textstats.dfi_topk(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r.score - round(s, 6)) < 1e-6


def test_bm25f_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    tl = textstats.BM25F_TITLE_LEN
    fields = {}
    for d, r in by_id.items():
        ts = tokenize(r.text)
        fields[d] = {"title": ts[:tl], "body": ts[tl:]}
    n_docs = len(fields)
    avg = {
        f: sum(len(v[f]) for v in fields.values()) / n_docs
        for f in ("title", "body")
    }
    w = {"title": textstats.BM25F_W_TITLE, "body": textstats.BM25F_W_BODY}
    b, k1 = textstats.BM25F_B, textstats.BM25F_K1
    df = {
        t: sum(
            1
            for v in fields.values()
            if t in v["title"] or t in v["body"]
        )
        for t in terms
    }
    want = {}
    for d, v in fields.items():
        s = 0.0
        for t in terms:
            if df[t] == 0:
                continue
            tft = 0.0
            for f in ("title", "body"):
                tf = v[f].count(t)
                if tf:
                    tft += w[f] * tf / (1 - b + b * len(v[f]) / avg[f])
            if tft == 0:
                continue
            idf = _m.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tft / (k1 + tft)
        if s > 0:
            want[d] = s
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = textstats.bm25f_topk(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r.score - round(s, 6)) < 1e-6
    # BM25F joint saturation differs from naive per-field BM25 sum:
    # a doc whose query term sits in the (weight-2) title outranks an
    # equal-tf body-only doc — verify the title weight actually binds.
    title_hits = {
        d
        for d, v in fields.items()
        if any(t in v["title"] for t in terms)
    }
    assert any(r.doc_id in title_hits for r in got)


def test_kmv_distinct_recompute(spark, corpus, tables):
    _, by_id = corpus
    k = textstats.KMV_K
    per_src: dict[str, set] = {}
    for _, r in by_id.items():
        per_src.setdefault(r.source, set()).update(tokenize(r.text))
    vocab = sorted(set().union(*per_src.values()))
    tid = {t: i for i, t in enumerate(vocab)}

    def h(t):
        return ((tid[t] + 1) * FP_MULT) % MOD

    def est(hashes):
        hs = sorted(hashes)[:k]
        if len(hs) >= k:
            return (k - 1) * MOD / hs[k - 1]
        return float(len(hs))

    got = {r.source: r for r in
           textstats.kmv_distinct(spark, tables).collect()}
    assert set(got) == set(per_src) | {"__merged__"}
    merged_sketch: set = set()
    for src, terms in per_src.items():
        hashes = {h(t) for t in terms}
        merged_sketch.update(sorted(hashes)[:k])
        row = got[src]
        assert row.n_exact == len(terms)
        assert abs(row.kmv_est - round(est(hashes), 6)) < 1e-6
    # mergeability: the __merged__ row must equal the estimate from
    # the UNION of the per-source min-k sketches (never the raw union
    # of all hashes — that's the property under test)
    allterms = set().union(*per_src.values())
    mrow = got["__merged__"]
    assert mrow.n_exact == len(allterms)
    assert abs(mrow.kmv_est - round(est(merged_sketch), 6)) < 1e-6
    # and because min-k(union of sketches) == min-k(union of sets),
    # it also equals the direct global sketch
    assert abs(
        mrow.kmv_est - round(est({h(t) for t in allterms}), 6)
    ) < 1e-6
    # sanity: the estimator is in the right ballpark at k=16
    assert 0 < mrow.rel_err < 0.6


def test_merge_policy_plan_recompute(spark, corpus, tables):
    import math as _m
    from collections import defaultdict

    _, by_id = corpus
    mf, fd = textstats.MERGE_FACTOR, textstats.FLUSH_DOCS
    seg_bytes: dict[int, int] = defaultdict(int)
    for d, r in by_id.items():
        seg_bytes[d // fd] += r.n_chars
    by_level: dict[int, list] = defaultdict(list)
    for s in sorted(seg_bytes):
        lev = _m.floor(_m.log(seg_bytes[s]) / _m.log(mf))
        by_level[lev].append(s)
    want = {}
    for lev, segs in by_level.items():
        for gi in range(0, len(segs), mf):
            grp = segs[gi:gi + mf]
            want[(lev, gi // mf)] = grp
    got = {(r.level, r.grp): r for r in
           textstats.merge_policy_plan(spark, tables).collect()}
    assert set(got) == set(want)
    for key, grp in want.items():
        row = got[key]
        assert row.n_segments == len(grp)
        assert (row.first_seg, row.last_seg) == (grp[0], grp[-1])
        assert row.total_bytes == sum(seg_bytes[s] for s in grp)
        assert row.will_merge == (len(grp) == mf)
    # only FULL groups merge; at most one partial group per level
    partial = [k for k, r in got.items() if not r.will_merge]
    by_lev = defaultdict(int)
    for lev, _ in partial:
        by_lev[lev] += 1
    assert all(n == 1 for n in by_lev.values())


def test_soft404_recompute(spark, corpus, tables):
    import re

    _, by_id = corpus
    want: dict[tuple, int] = {}
    pat = re.compile(trainprep.SOFT404_PHRASES)
    for d, r in by_id.items():
        if d % 13 == 0:
            planted = "error_page"
            body = (
                "Error 404: the page you requested was not found"
                " on this server."
                if d % 2 == 0
                else "Sorry, this page does not exist or is no longer"
                " available."
            )
        elif d % 17 == 5:
            planted, body = "truncated", r.text[:40]
        else:
            planted, body = "normal", r.text
        det = bool(pat.search(body.lower())) or len(body) < trainprep.SOFT404_MIN_CHARS
        key = (r.source, planted, det)
        want[key] = want.get(key, 0) + 1
    got = {
        (r.source, r.planted, r.detected): r.n_docs
        for r in trainprep.soft404_filter(spark, tables).collect()
    }
    assert got == want
    # every planted error page must be detected (phrase rule is total)
    for (_, planted, det), n in got.items():
        if planted == "error_page":
            assert det, "phrase detector missed a planted error page"


def test_url_features_recompute(spark, corpus, tables):
    import hashlib

    _, by_id = corpus
    urls: dict[tuple, list] = {}
    for d, r in by_id.items():
        h = hashlib.md5(str(d).encode()).hexdigest()
        tld = trainprep.URL_TLDS[d % 3]
        depth = d % 3 + 1
        path = "/" + h[0:3]
        if depth >= 2:
            path += "/" + h[3:6]
        if depth >= 3:
            path += "/" + h[6:9]
        url = f"https://{r.source}.{tld}{path}"
        if d % 5 == 1:
            url += ".html"
        if d % 6 == 0:
            url += f"?q={d}"
        urls.setdefault((r.source, tld), []).append(
            (len(url), sum(c.isdigit() for c in url), depth,
             d % 6 == 0, d % 5 == 1)
        )
    got = {
        (r.source, r.tld): r
        for r in trainprep.url_features(spark, tables).collect()
    }
    assert set(got) == set(urls)
    for key, rows in urls.items():
        r = got[key]
        assert r.n_urls == len(rows)
        assert abs(r.avg_url_len - round(sum(x[0] for x in rows) / len(rows), 6)) < 1e-9
        assert abs(r.avg_digits - round(sum(x[1] for x in rows) / len(rows), 6)) < 1e-9
        assert r.max_depth == max(x[2] for x in rows)
        assert r.n_query == sum(x[3] for x in rows)
        assert r.n_html == sum(x[4] for x in rows)


def test_elias_fano_audit_recompute(spark, corpus, tables):
    _, by_id = corpus
    posts: dict[str, set] = {}
    for d, r in by_id.items():
        for term in set(tokenize(r.text)):
            posts.setdefault(term, set()).add(d)
    u = max(d for ids in posts.values() for d in ids) + 1

    def vbyte(g: int) -> int:
        if g < 128:
            return 1
        if g < 16384:
            return 2
        if g < 2097152:
            return 3
        if g < 268435456:
            return 4
        return 5

    vb_tot = eb_tot = wins = 0
    for ids in posts.values():
        s = sorted(ids)
        gaps = [s[0] + 1] + [b - a for a, b in zip(s, s[1:])]
        vb = sum(vbyte(g) for g in gaps)
        n = len(s)
        l = max(0, (u // n).bit_length() - 1)
        bits = n * l + n + u // (1 << l) + 1
        eb = (bits + 7) // 8
        vb_tot += vb
        eb_tot += eb
        wins += eb < vb
    row = textstats.elias_fano_audit(spark, tables).collect()[0]
    assert row.n_terms == len(posts)
    assert row.varbyte_bytes == vb_tot
    assert row.ef_bytes == eb_tot
    assert row.ef_wins == wins
    assert abs(row.ef_to_varbyte - round(eb_tot / vb_tot, 6)) < 1e-9


def test_dfr_pl2_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms = ["the", "merge", "vector"]
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    n_docs = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n_docs
    cf = {t: sum(ts.count(t) for ts in toks.values()) for t in terms}
    want = {}
    for d, ts in toks.items():
        s, matched = 0.0, False
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                continue
            matched = True
            tfn = tf * _m.log(1.0 + avgdl / len(ts)) / _m.log(2.0)
            lam = cf[t] / n_docs
            s += (
                tfn * _m.log(tfn / lam)
                + (lam - tfn)
                + 0.5 * _m.log(2.0 * _m.pi * tfn)
            ) / (_m.log(2.0) * (tfn + 1.0))
        if matched:
            want[d] = s
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = textstats.dfr_pl2_topk(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r.score - round(s, 6)) < 1e-6
    # PL2 anti-evidence: a stopword-only doc can score negative, but the
    # top of the ranking must be positive on this corpus
    assert got[0].score > 0


def test_c4_filter_recompute(spark, corpus, tables):
    _, by_id = corpus
    w, m, minl = trainprep.C4_LINE_W, trainprep.C4_MIN_LINE_TOKENS, \
        trainprep.C4_MIN_LINES
    agg: dict[str, dict] = {}
    for d, r in by_id.items():
        body = r.text
        if d % 7 == 1:
            body += " Lorem ipsum dolor sit amet"
        elif d % 11 == 3:
            body += " var f = function() { return 1; }"
        lorem = "lorem ipsum" in body.lower()
        brace = "{" in body
        n = len(tokenize(body))
        ret = [
            i for i in range(max((n + w - 1) // w, 1))
            if min(w, n - w * i) >= m and (d + i) % 3 != 0
        ]
        rtoks = sum(min(w, n - w * i) for i in ret)
        kept = not lorem and not brace and len(ret) >= minl
        a = agg.setdefault(r.source, dict(
            n=0, lorem=0, brace=0, few=0, kept=0, ktok=0, ratios=[]
        ))
        a["n"] += 1
        a["lorem"] += lorem
        a["brace"] += brace
        a["few"] += (not lorem and not brace and len(ret) < minl)
        if kept:
            a["kept"] += 1
            a["ktok"] += rtoks
            a["ratios"].append(rtoks / n)
    got = {r.source: r for r in trainprep.c4_filter(spark, tables).collect()}
    assert set(got) == set(agg)
    for s, a in agg.items():
        r = got[s]
        assert (r.n_docs, r.n_lorem, r.n_brace, r.n_fewlines,
                r.n_kept, r.kept_tokens) == (
            a["n"], a["lorem"], a["brace"], a["few"], a["kept"], a["ktok"]
        )
        if a["ratios"]:
            assert abs(
                r.kept_ratio - round(sum(a["ratios"]) / len(a["ratios"]), 6)
            ) < 1e-6
    # every rule branch must actually fire somewhere in the corpus
    assert sum(a["lorem"] for a in agg.values()) > 0
    assert sum(a["brace"] for a in agg.values()) > 0
    assert sum(a["kept"] for a in agg.values()) > 0


def test_dsir_weights_recompute(spark, corpus, tables):
    import hashlib
    import math as _m

    _, by_id = corpus

    def buckets(ts):
        grams = list(ts) + [
            f"{a} {b}" for a, b in zip(ts, ts[1:])
        ]
        return [hashlib.md5(g.encode()).hexdigest()[:2] for g in grams]

    per_doc = {}
    for d, r in by_id.items():
        cnt: dict[str, int] = {}
        for b in buckets(tokenize(r.text)):
            cnt[b] = cnt.get(b, 0) + 1
        per_doc[d] = (r.source, cnt)
    all_b: dict[str, int] = {}
    tgt_b: dict[str, int] = {}
    for _, (s, cnt) in per_doc.items():
        for b, c in cnt.items():
            all_b[b] = all_b.get(b, 0) + c
            if s == trainprep.DSIR_TARGET:
                tgt_b[b] = tgt_b.get(b, 0) + c
    a_tot, t_tot = sum(all_b.values()), sum(tgt_b.values())
    lr = {
        b: _m.log(
            ((tgt_b.get(b, 0) + 1.0) * (a_tot + 256.0))
            / ((all_b[b] + 1.0) * (t_tot + 256.0))
        )
        for b in all_b
    }
    srcs: dict[str, list[float]] = {}
    for _, (s, cnt) in per_doc.items():
        w = sum(c * lr[b] for b, c in cnt.items())
        srcs.setdefault(s, []).append(w)
    got = {r.source: r for r in
           trainprep.dsir_weights(spark, tables).collect()}
    assert set(got) == set(srcs)
    for s, ws in srcs.items():
        r = got[s]
        assert r.n_docs == len(ws)
        assert abs(r.avg_logw - round(sum(ws) / len(ws), 6)) < 1e-4
        assert r.n_target_like == sum(1 for x in ws if x > 0)
    # the target domain itself must carry the highest mean weight
    top = max(got.values(), key=lambda r: r.avg_logw)
    assert top.source == trainprep.DSIR_TARGET


def test_fim_transform_recompute(spark, corpus, tables):
    _, by_id = corpus
    agg: dict[tuple[str, str], dict] = {}
    for d, r in by_id.items():
        n = len(tokenize(r.text))
        m = d // 20
        if m % 4 == 0:
            mode, pre, mid = "ar", n, 0
        else:
            mode = "psm" if m % 2 == 0 else "spm"
            pre = (n * (1 + m % 8)) // 10
            mid = ((n - pre) * (1 + m % 5)) // 6
        a = agg.setdefault((r.source, mode), dict(
            n=0, p=0, m=0, s=0, fr=[]
        ))
        a["n"] += 1
        a["p"] += pre
        a["m"] += mid
        a["s"] += n - pre - mid
        a["fr"].append(mid / n if n else 0.0)
    got = {(r.source, r.mode): r for r in
           trainprep.fim_transform(spark, tables).collect()}
    assert set(got) == set(agg)
    for k, a in agg.items():
        r = got[k]
        assert (r.n_docs, r.prefix_tokens, r.middle_tokens,
                r.suffix_tokens) == (a["n"], a["p"], a["m"], a["s"])
        assert abs(
            r.avg_middle_frac - round(sum(a["fr"]) / len(a["fr"]), 6)
        ) < 1e-6
    # split is a partition: masses add back to the corpus token count
    total = sum(len(tokenize(r.text)) for r in by_id.values())
    assert sum(a["p"] + a["m"] + a["s"] for a in agg.values()) == total
    # all three modes appear, and AR docs carry no middle mass
    assert {m for _, m in agg} == {"ar", "psm", "spm"}
    assert all(r.middle_tokens == 0 for (_, m), r in got.items()
               if m == "ar")


def test_skiplist_audit_recompute(spark, corpus, tables):
    _, by_id = corpus
    posts: dict[str, set[int]] = {}
    for d, r in by_id.items():
        for t in set(tokenize(r.text)):
            posts.setdefault(t, set()).add(d)
    s, m = textstats.SKIP_INTERVAL, textstats.SKIP_MULT
    tot_lv = tot_e = skipped = mx = 0
    for ids in posts.values():
        df = len(ids)
        lv = 1 + ((df // s).bit_length() - 1) // 3 if df >= s else 0
        e = sum(df // (s * m ** l) for l in range(lv))
        tot_lv += lv
        tot_e += e
        skipped += lv > 0
        mx = max(mx, lv)
    row = textstats.skiplist_audit(spark, tables).collect()[0]
    assert row.n_terms == len(posts)
    assert row.n_skipped_terms == skipped
    assert row.total_levels == tot_lv
    assert row.max_levels == mx
    assert row.total_entries == tot_e
    assert row.est_bytes == tot_e * 9
    assert abs(
        row.avg_entries_per_skipped - round(tot_e / max(skipped, 1), 6)
    ) < 1e-9
    # df < skipInterval must contribute no levels; df >= must contribute >= 1
    assert mx >= 1  # the corpus has common terms with df >= 16


def test_variable_width_histogram_recompute(spark, corpus, tables):
    _, by_id = corpus
    from collections import Counter

    cnt = Counter(r.n_chars for r in by_id.values())
    total = sum(cnt.values())
    n = textstats.VWH_BUCKETS
    buckets: dict[int, list[tuple[int, int]]] = {}
    cum = 0
    for v in sorted(cnt):
        b = (cum * n) // total
        buckets.setdefault(b, []).append((v, cnt[v]))
        cum += cnt[v]
    got = {r.bucket: r for r in
           textstats.variable_width_histogram_agg(spark, tables).collect()}
    assert set(got) == set(buckets)
    for b, vs in buckets.items():
        r = got[b]
        nd = sum(c for _, c in vs)
        assert (r.min_val, r.max_val, r.n_docs) == (
            vs[0][0], vs[-1][0], nd
        )
        assert abs(
            r.avg_val - round(sum(v * c for v, c in vs) / nd, 6)
        ) < 1e-6
    # equal-depth: no bucket exceeds ~2x the ideal mass unless one value
    # dominates; buckets are value-atomic and contiguous
    all_ranges = sorted((r.min_val, r.max_val) for r in got.values())
    for (a1, b1), (a2, b2) in zip(all_ranges, all_ranges[1:]):
        assert b1 < a2  # non-overlapping, increasing


def test_intervals_unordered_recompute(spark, corpus, tables):
    _, by_id = corpus
    a, b, g = "merge", "group", 4
    want = {}
    for d, r in by_id.items():
        ts = tokenize(r.text)
        pas = [i for i, t in enumerate(ts) if t == a]
        pbs = [i for i, t in enumerate(ts) if t == b]
        if not pas or not pbs:
            continue
        gaps = [abs(x - y) - 1 for x in pas for y in pbs]
        if min(gaps) <= g:
            want[d] = (min(gaps), sum(1 for x in gaps if x <= g))
    got = {r.doc_id: r for r in Q.intervals_unordered_match(
        corpus[0], a, b, g
    ).collect()}
    assert set(got) == set(want)
    for d, (mg, np_) in want.items():
        assert (got[d].min_gap, got[d].n_pairs_within) == (mg, np_)
    # unordered: symmetric in (a, b)
    got_rev = {r.doc_id: r for r in Q.intervals_unordered_match(
        corpus[0], b, a, g
    ).collect()}
    assert {d: (r.min_gap, r.n_pairs_within) for d, r in got.items()} == \
        {d: (r.min_gap, r.n_pairs_within) for d, r in got_rev.items()}


def test_borda_fusion_recompute(spark, corpus, tables):
    from pyspark.sql import functions as F

    a = [r.doc_id for r in
         textstats.bm25_plus_topk(spark, tables, delta=0.0, k=20)
         .orderBy(F.desc("score"), "doc_id").collect()]
    b = [r.doc_id for r in
         textstats.query_likelihood_topk(spark, tables, k=20)
         .orderBy(F.desc("score"), "doc_id").collect()]
    w = textstats.BORDA_W
    pts: dict[int, int] = {}
    lists: dict[int, int] = {}
    for lst in (a, b):
        for i, d in enumerate(lst):
            pts[d] = pts.get(d, 0) + (w - i)
            lists[d] = lists.get(d, 0) + 1
    top = sorted(
        pts.items(), key=lambda kv: (-kv[1], -lists[kv[0]], kv[0])
    )[:15]
    got = textstats.borda_fusion(spark, tables).collect()
    assert [(r.doc_id, r.borda, r.n_lists) for r in got] == [
        (d, p, lists[d]) for d, p in top
    ]
    # integer ballots: consensus docs in both lists lead
    assert got[0].n_lists == 2
    assert got[0].borda <= 2 * w


def test_index_sort_audit_recompute(spark, corpus, tables):
    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], textstats.SORT_AUDIT_K
    order = sorted(by_id.values(), key=lambda r: (-r.n_chars, r.doc_id))
    pos = {r.doc_id: i + 1 for i, r in enumerate(order)}
    n = len(order)
    got = {r.term: r for r in
           textstats.index_sort_audit(spark, tables).collect()}
    assert set(got) == set(terms)
    for t in terms:
        match_pos = sorted(
            pos[d] for d, r in by_id.items() if t in tokenize(r.text)
        )
        df = len(match_pos)
        scanned = match_pos[k - 1] if df >= k else n
        r = got[t]
        assert (r.df, r.scanned_docs, r.n_docs) == (df, scanned, n)
        assert abs(r.skip_ratio - round(1.0 - scanned / n, 6)) < 1e-9
    # a high-df term must terminate early: it skips most of the index
    assert got["the"].skip_ratio > 0.5


def test_symspell_suggest_recompute(spark, corpus, tables):
    _, by_id = corpus
    from collections import Counter

    cf = Counter(
        t for r in by_id.values() for t in tokenize(r.text)
    )

    def keys(x):
        return {x} | {x[:i] + x[i + 1:] for i in range(len(x))}

    got = {}
    for r in textstats.symspell_suggest(spark, tables).collect():
        got.setdefault(r.query, []).append((r.rank, r.term, r.dist, r.cf))
    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    for q in textstats.SYMSPELL_TYPOS:
        qk = keys(q)
        cand = {
            t for t in cf if qk & keys(t)
        }
        scored = sorted(
            ((lev(q, t), -cf[t], t) for t in cand if lev(q, t) <= 1),
        )[:3]
        want = [
            (i + 1, t, d, -negcf) for i, (d, negcf, t) in enumerate(scored)
        ]
        assert got.get(q, []) == want
    # every planted typo finds its intended correction at rank 1
    fixes = {"merg": "merge", "groupp": "group", "windoe": "window"}
    for q, t in fixes.items():
        assert got[q][0][1] == t


def test_routing_skew_audit_recompute(spark, corpus, tables):
    _, by_id = corpus
    n = textstats.ROUTING_SHARDS

    def shard(key):
        return ((key % MOD + 1) * FP_MULT) % MOD % n

    agg: dict[tuple[str, int], list[int]] = {}
    for d, r in by_id.items():
        src = int(r.source[3:])
        agg.setdefault(("id", shard(d)), []).append(d)
        agg.setdefault(("source", shard(src)), []).append(src)
    got = {(r.scheme, r.shard): r for r in
           textstats.routing_skew_audit(spark, tables).collect()}
    assert set(got) == set(agg)
    for k2, keys2 in agg.items():
        assert (got[k2].n_docs, got[k2].n_keys) == (
            len(keys2), len(set(keys2))
        )
    # the audit's point: source routing is lumpier than id routing
    id_counts = [r.n_docs for (s, _), r in got.items() if s == "id"]
    src_counts = [r.n_docs for (s, _), r in got.items() if s == "source"]
    id_imb = max(id_counts) / (sum(id_counts) / len(id_counts))
    src_imb = max(src_counts) / (sum(src_counts) / len(src_counts))
    assert src_imb > id_imb


def test_blockmax_tightness_recompute(spark, corpus, tables):
    import math as _m
    from collections import defaultdict

    _, by_id = corpus
    terms, blk = ["the", "merge", "vector"], textstats.BLOCKMAX_B
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    got = {r.term: r for r in
           textstats.blockmax_tightness(spark, tables).collect()}
    assert set(got) == set(terms)
    for t in terms:
        dfreq = sum(1 for ts in toks.values() if t in ts)
        idf = _m.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
        bmax: dict[int, float] = defaultdict(float)
        for d, ts in toks.items():
            tf = ts.count(t)
            if not tf:
                continue
            p = idf * (
                tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
            )
            bmax[d // blk] = max(bmax[d // blk], p)
        gmax = max(bmax.values())
        tight = [b / gmax for b in bmax.values()]
        r = got[t]
        assert r.n_blocks == len(bmax)
        assert abs(r.avg_tightness - round(sum(tight) / len(tight), 6)) \
            < 1e-6
        assert abs(r.min_tightness - round(min(tight), 6)) < 1e-9
        assert r.n_prunable == sum(1 for x in tight if x < 0.5)
    # tightness is a ratio against the per-term global max: bounded by 1,
    # and some block must achieve exactly 1
    for r in got.values():
        assert 0.0 < r.min_tightness <= r.avg_tightness <= 1.0


def test_trending_events_recompute(spark, tables):
    from datetime import datetime

    split = datetime(2024, 1, 16)
    ev = tables["events"].select("event_type", "ts").collect()
    agg: dict[str, list[int]] = {}
    for r in ev:
        a = agg.setdefault(r.event_type, [0, 0])
        a[0 if r.ts < split else 1] += 1
    got = {r.event_type: r for r in
           textstats.trending_events(spark, tables).collect()}
    assert set(got) == set(agg)
    for et, (e, l) in agg.items():
        r = got[et]
        rise = round((l + 1.0) / (e + 1.0), 6)
        assert (r.n_early, r.n_late) == (e, l)
        assert r.rise == rise
        want = ("rising" if rise >= 1.1 else
                "falling" if rise <= 0.9 else "flat")
        assert r.trend == want


def test_crawl_politeness_plan_recompute(spark, corpus, tables):
    _, by_id = corpus
    from collections import Counter

    tlds = trainprep.URL_TLDS
    hosts = Counter(
        f"{r.source}.{tlds[d % 3]}" for d, r in by_id.items()
    )
    total, mx = sum(hosts.values()), max(hosts.values())
    k = trainprep.CRAWL_THREADS
    row = trainprep.crawl_politeness_plan(spark, tables).collect()[0]
    assert row.n_hosts == len(hosts)
    assert row.total_urls == total
    assert row.max_host_urls == mx
    assert row.crawlers == k
    assert row.lb_makespan_sec == max(mx, -(-total // k))
    assert abs(row.imbalance - round(mx * k / total, 6)) < 1e-9
    # both lower-bound terms are live: the bound dominates total/k
    assert row.lb_makespan_sec >= row.total_urls // k


def test_temperature_mixture_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    from collections import Counter

    n_by_src = Counter(r.source for r in by_id.values())
    b = trainprep.MIX_ALPHA_BUDGET
    ws = {s: _m.sqrt(n) for s, n in n_by_src.items()}
    tot = 0.0
    for s in sorted(ws):
        tot += ws[s]
    shares = {s: w * float(b) / tot for s, w in ws.items()}
    base = {s: int(_m.floor(sh)) for s, sh in shares.items()}
    fracs = sorted(
        ((shares[s] - base[s], s) for s in shares),
        key=lambda x: (-x[0], x[1]),
    )
    r = b - sum(base.values())
    topped = {s for _, s in fracs[:r]}
    got = {row.source: row for row in
           trainprep.temperature_mixture(spark, tables).collect()}
    assert set(got) == set(n_by_src)
    for s in n_by_src:
        row = got[s]
        assert row.n_docs == n_by_src[s]
        assert row.weight == round(ws[s], 6)
        assert row.alloc == base[s] + (s in topped)
        assert row.share == round(shares[s] / b, 6)
    # apportionment is exact: allocations sum to the budget
    assert sum(row.alloc for row in got.values()) == b


def test_term_burstiness_recompute(spark, corpus, tables):
    from collections import Counter, defaultdict

    _, by_id = corpus
    df: dict[str, int] = defaultdict(int)
    cf: dict[str, int] = defaultdict(int)
    for r in by_id.values():
        c = Counter(tokenize(r.text))
        for t2, n in c.items():
            df[t2] += 1
            cf[t2] += n
    cand = sorted(
        (
            (-(cf[t2] / df[t2]), t2)
            for t2 in df
            if df[t2] >= textstats.BURST_MIN_DF
        )
    )[:20]
    got = textstats.term_burstiness(spark, tables).collect()
    assert [r.term for r in got] == [t2 for _, t2 in cand]
    for r in got:
        assert (r.df, r.cf) == (df[r.term], cf[r.term])
        assert r.burstiness == round(cf[r.term] / df[r.term], 6)
    # burstiness >= 1 by construction (cf >= df)
    assert all(r.burstiness >= 1.0 for r in got)


def test_norms_quant_audit_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], 20
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}

    def dec(x):
        if x < 8:
            return x
        e = x.bit_length() - 1
        return (8 + ((x >> (e - 3)) & 7)) << (e - 3)

    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    rel = [abs(x - dec(x)) / x for x in dl.values()]

    def scores(use_dec):
        acc: dict[int, float] = {}
        for t in terms:
            dfq = sum(1 for ts in toks.values() if t in ts)
            idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
            for d, ts in toks.items():
                tf = ts.count(t)
                if not tf:
                    continue
                ln = dec(dl[d]) if use_dec else dl[d]
                acc[d] = acc.get(d, 0.0) + idf * (
                    tf / (tf + 1.2 * (0.25 + 0.75 * ln / avgdl))
                )
        return [x for x, _ in sorted(
            acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]

    te, tq = set(scores(False)), set(scores(True))
    row = textstats.norms_quant_audit(spark, tables).collect()[0]
    assert row.k == k
    assert row.n_overlap == len(te & tq)
    assert row.overlap_ratio == round(len(te & tq) / k, 6)
    assert abs(row.avg_rel_err - round(sum(rel) / len(rel), 6)) < 1e-6
    # 1-byte norms must barely move the ranking on this corpus
    assert row.overlap_ratio >= 0.8
    # ...and the decode error stays under SmallFloat's ~6% bound
    assert row.avg_rel_err < 0.0625


def test_stopword_prune_audit_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], 20
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    dfq = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    keep = {t: dfq[t] <= 0.5 * n for t in terms}
    full: dict[int, float] = {}
    pruned: dict[int, float] = {}
    any_kept: set[int] = set()
    for t in terms:
        idf = _m.log(1.0 + (n - dfq[t] + 0.5) / (dfq[t] + 0.5))
        for d, ts in toks.items():
            tf = ts.count(t)
            if not tf:
                continue
            c = idf * (tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl)))
            full[d] = full.get(d, 0.0) + c
            if keep[t]:
                pruned[d] = pruned.get(d, 0.0) + c
                any_kept.add(d)
            else:
                pruned.setdefault(d, 0.0)
    tf_ = {x for x, _ in sorted(
        full.items(), key=lambda kv: (-kv[1], kv[0]))[:k]}
    tp = {x for x, _ in sorted(
        ((d, s) for d, s in pruned.items() if d in any_kept),
        key=lambda kv: (-kv[1], kv[0]))[:k]}
    row = textstats.stopword_prune_audit(spark, tables).collect()[0]
    assert row.n_overlap == len(tf_ & tp)
    assert row.postings_full == sum(dfq.values())
    assert row.postings_pruned == sum(
        dfq[t] for t in terms if keep[t]
    )
    assert row.scan_saved == round(
        1.0 - row.postings_pruned / row.postings_full, 6
    )
    # 'the' is in >half the docs: the stoplist must actually prune it
    assert not keep["the"] and row.postings_pruned < row.postings_full


def test_ilm_phase_plan_recompute(spark, tables):
    ev = tables["events"].select("ts").collect()
    days = [r.ts.date() for r in ev]
    mx = max(days)
    ages = [(mx - d).days for d in days]
    agg: dict[str, list[int]] = {}
    for a in ages:
        ph = "hot" if a <= 7 else "warm" if a <= 21 else "cold"
        agg.setdefault(ph, []).append(a)
    got = {r.phase: r for r in
           textstats.ilm_phase_plan(spark, tables).collect()}
    assert set(got) == set(agg)
    tot = len(ages)
    for ph, a in agg.items():
        r = got[ph]
        assert (r.n_events, r.n_days, r.min_age, r.max_age) == (
            len(a), len(set(a)), min(a), max(a)
        )
        assert r.share == round(len(a) / tot, 6)
    # phases partition the stream and appear in age order
    assert sum(r.n_events for r in got.values()) == tot
    assert got["hot"].min_age == 0


def test_bm25_prox_recompute(spark, corpus, tables):
    import math as _m
    from itertools import combinations

    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], 15
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    bm: dict[int, float] = {}
    for t in terms:
        dfq = sum(1 for ts in toks.values() if t in ts)
        idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
        for d, ts in toks.items():
            tf = ts.count(t)
            if tf:
                bm[d] = bm.get(d, 0.0) + idf * (
                    tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
                )
    prox: dict[int, float] = {}
    for a, b in combinations(sorted(set(terms)), 2):
        for d, ts in toks.items():
            pa = [i for i, x in enumerate(ts) if x == a]
            pb = [i for i, x in enumerate(ts) if x == b]
            if pa and pb:
                md = min(abs(x - y) for x in pa for y in pb)
                prox[d] = prox.get(d, 0.0) + 1.0 / (md * md)
    want = {
        d: bm[d] + textstats.PROX_LAMBDA * prox.get(d, 0.0) for d in bm
    }
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    got = textstats.bm25_prox_topk(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r.score - round(s, 6)) < 1e-6
    # the bonus must actually reorder something vs plain BM25
    plain = [d for d, _ in sorted(
        bm.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
    assert [r.doc_id for r in got] != plain


def test_ip_range_agg_recompute(spark, corpus, tables):
    _, by_id = corpus
    ips = {}
    for d in by_id:
        ip = ((d % 65536 + 1) * textstats.IP_MULT) % 2 ** 32
        ips[d] = ip
    agg: dict[int, list[int]] = {}
    for ip in ips.values():
        agg.setdefault((ip >> 24) // 64, []).append(ip)
    got = {r.bucket: r for r in
           textstats.ip_range_agg(spark, tables).collect()}
    assert set(got) == set(agg)
    for b, vs in agg.items():
        r = got[b]
        assert (r.from_octet, r.to_octet) == (b * 64, b * 64 + 64)
        assert (r.n_docs, r.n_ips) == (len(vs), len(set(vs)))
    # the Knuth hash spreads mass into every /2 prefix
    assert set(got) == {0, 1, 2, 3}


def test_counter_rate_recompute(spark, tables):
    rows = tables["events"].select(
        "user_id", "ts", "event_id"
    ).collect()
    per_user: dict[int, list] = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    agg: dict[str, list[int]] = {}
    for u, evs in per_user.items():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        prev = None
        for i, r in enumerate(evs, 1):
            c = (i % textstats.COUNTER_PERIOD) * 3
            if prev is None:
                inc, reset = 0, 0
            elif c >= prev:
                inc, reset = c - prev, 0
            else:
                inc, reset = c, 1
            day = str(r.ts.date())
            a = agg.setdefault(day, [0, 0, 0])
            a[0] += 1
            a[1] += inc
            a[2] += reset
            prev = c
    got = {r.day: r for r in
           textstats.counter_rate(spark, tables).collect()}
    assert set(got) == set(agg)
    for day, (ns, inc, nr) in agg.items():
        r = got[day]
        assert (r.n_samples, r.increase, r.n_resets) == (ns, inc, nr)
    # sawtooth sanity: resets happen, and increase stays non-negative
    assert sum(a[2] for a in agg.values()) > 0
    assert all(r.increase >= 0 for r in got.values())


def test_sdm_recompute(spark, corpus, tables):
    import math as _m
    from itertools import combinations

    _, by_id = corpus
    q = ["the", "merge", "vector"]
    uniq = sorted(set(q))
    k, mu, uw = 15, textstats.SDM_MU, textstats.SDM_UW
    wt, wo, wu = textstats.SDM_W
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    total = sum(len(ts) for ts in toks.values())

    def uni_tf(ts, t):
        return ts.count(t)

    def bi_tf(ts, a, b):
        return sum(
            1 for x, y in zip(ts, ts[1:]) if x == a and y == b
        )

    def uw_tf(ts, a, b):
        pa = [i for i, x in enumerate(ts) if x == a]
        pb = [i for i, x in enumerate(ts) if x == b]
        return sum(
            1 for x in pa for y in pb if abs(x - y) < uw
        )

    feats = (
        [("u", (t2,), wt) for t2 in uniq]
        + [("o", p, wo) for p in zip(q, q[1:])]
        + [("w", p, wu) for p in combinations(uniq, 2)]
    )

    def tf_of(kind, args, ts):
        if kind == "u":
            return uni_tf(ts, *args)
        if kind == "o":
            return bi_tf(ts, *args)
        return uw_tf(ts, *args)

    cf = {
        (kind, args): sum(tf_of(kind, args, ts) for ts in toks.values())
        for kind, args, _ in feats
    }
    cand = [d for d, ts in toks.items() if any(t2 in ts for t2 in uniq)]
    want = {}
    for d in cand:
        ts = toks[d]
        s = 0.0
        for kind, args, w in feats:
            p_f = (cf[(kind, args)] + 0.5) / total
            s += w * _m.log(
                (tf_of(kind, args, ts) + mu * p_f) / (len(ts) + mu)
            )
        want[d] = s
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    got = textstats.sdm_topk(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in top]
    for r, (_, s) in zip(got, top):
        assert abs(r.score - round(s, 6)) < 1e-6
    # dependence features must reorder something vs unigrams alone
    uni_only = {}
    for d in cand:
        ts = toks[d]
        s = 0.0
        for t2 in uniq:
            p_f = (cf[("u", (t2,))] + 0.5) / total
            s += wt * _m.log((ts.count(t2) + mu * p_f) / (len(ts) + mu))
        uni_only[d] = s
    plain = [d for d, _ in sorted(
        uni_only.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
    assert [r.doc_id for r in got] != plain


def test_kgram_wildcard_recompute(spark, corpus, tables):
    import fnmatch

    _, by_id = corpus
    df: dict[str, set] = {}
    for d, r in by_id.items():
        for t2 in set(tokenize(r.text)):
            df.setdefault(t2, set()).add(d)

    got: dict[str, list] = {}
    for r in textstats.kgram_wildcard(spark, tables).collect():
        got.setdefault(r.pattern, []).append((r.term, r.df))
    for pat in textstats.KGRAM_PATTERNS:
        req = set(textstats._kgram_required(pat))
        want = []
        for t2 in sorted(df):
            aug = f"${t2}$"
            grams = {aug[i:i + 2] for i in range(len(aug) - 1)}
            if req <= grams and fnmatch.fnmatchcase(t2, pat):
                want.append((t2, len(df[t2])))
        assert got.get(pat, []) == want
    # every planted pattern expands to its intended vocabulary term
    hits = {p: {t2 for t2, _ in v} for p, v in got.items()}
    assert "merge" in hits["m*e"]
    assert "group" in hits["gr*p"]
    assert "window" in hits["w*dow"]


def test_langid_confusion_recompute(spark, corpus, tables):
    from collections import Counter

    _, by_id = corpus
    en_m = set(textstats.EN_MARKERS)
    de_m = set(textstats.DE_MARKERS)
    cells: Counter = Counter()
    for r in by_id.values():
        ts = tokenize(r.text)
        en = sum(1 for x in ts if x in en_m)
        de = sum(1 for x in ts if x in de_m)
        pred = "en" if en > de else "de" if de > en else "und"
        cells[(r.lang, pred)] += 1
    gold_tot = Counter()
    for (g, _), n in cells.items():
        gold_tot[g] += n
    got = {(r.gold, r.pred): r for r in
           textstats.langid_confusion(spark, tables).collect()}
    assert set(got) == set(cells)
    for (g, p), n in cells.items():
        r = got[(g, p)]
        assert r.n_docs == n
        assert r.share == round(n / gold_tot[g], 6)
    # the audit's finding: non-en gold classes get predicted en/und,
    # never de (the corpus text carries no German markers)
    assert not any(p == "de" for _, p in got)


def test_completion_context_recompute(spark, corpus, tables):
    from collections import Counter

    _, by_id = corpus
    per: Counter = Counter()
    for r in by_id.values():
        for t2 in tokenize(r.text):
            if t2.startswith("s"):
                per[(r.lang, t2)] += 1
    want: dict[str, list] = {}
    langs = {l for l, _ in per}
    for lang in langs:
        ranked = sorted(
            ((w, s) for (l, s), w in per.items() if l == lang),
            key=lambda x: (-x[0], x[1]),
        )[:5]
        want[lang] = [
            (i + 1, s, w) for i, (w, s) in enumerate(ranked)
        ]
    got: dict[str, list] = {}
    for r in textstats.completion_context(spark, tables).collect():
        got.setdefault(r.lang, []).append(
            (r.rank, r.suggestion, r.weight)
        )
    assert got == want
    # context filtering: every lang slice ranks independently
    assert len(got) == len(langs)


def test_serp_clusters_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms, k, tau = ["the", "merge", "vector"], textstats.SERP_K, \
        textstats.SERP_TAU
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    bm: dict[int, float] = {}
    for t2 in terms:
        dfq = sum(1 for ts in toks.values() if t2 in ts)
        idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
        for d, ts in toks.items():
            tf = ts.count(t2)
            if tf:
                bm[d] = bm.get(d, 0.0) + idf * (
                    tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
                )
    top = [d for d, _ in sorted(
        bm.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
    rank = {d: i + 1 for i, d in enumerate(top)}
    sets = {d: set(toks[d]) for d in top}
    want = {}
    for d in top:
        best = None
        for other in top:
            if rank[other] >= rank[d]:
                continue
            j = len(sets[d] & sets[other]) / len(sets[d] | sets[other])
            if j >= tau and (best is None or rank[other] < rank[best[0]]):
                best = (other, j)
        if best:
            want[d] = (rank[d], best[0], round(best[1], 6))
        else:
            want[d] = (rank[d], d, 1.0)
    got = {r.doc_id: (r.rank, r.leader, r.sim) for r in
           textstats.serp_clusters(spark, tables).collect()}
    assert got == want
    # at least one non-trivial cluster forms on this corpus
    assert any(lead != d for d, (_, lead, _) in got.items())



def test_rerank_depth_audit_recompute(spark, corpus, tables):
    import math as _m
    from itertools import combinations

    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], textstats.RERANK_K
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    bm: dict[int, float] = {}
    for t2 in terms:
        dfq = sum(1 for ts in toks.values() if t2 in ts)
        idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
        for d, ts in toks.items():
            tf = ts.count(t2)
            if tf:
                bm[d] = bm.get(d, 0.0) + idf * (
                    tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
                )
    prox: dict[int, float] = {}
    for a, b in combinations(sorted(set(terms)), 2):
        for d, ts in toks.items():
            pa = [i for i, x in enumerate(ts) if x == a]
            pb = [i for i, x in enumerate(ts) if x == b]
            if pa and pb:
                md = min(abs(x - y) for x in pa for y in pb)
                prox[d] = prox.get(d, 0.0) + 1.0 / (md * md)
    final = {d: bm[d] + 2.0 * prox.get(d, 0.0) for d in bm}
    ok = {d for d, _ in sorted(
        final.items(), key=lambda kv: (-kv[1], kv[0]))[:k]}
    got = {r.depth: r for r in
           textstats.rerank_depth_audit(spark, tables).collect()}
    assert set(got) == set(textstats.RERANK_DEPTHS)
    prev = -1.0
    for r2 in textstats.RERANK_DEPTHS:
        cand = [d for d, _ in sorted(
            bm.items(), key=lambda kv: (-kv[1], kv[0]))[:r2]]
        reranked = sorted(
            cand, key=lambda d: (-final[d], d)
        )[:k]
        hit = len(set(reranked) & ok)
        row = got[r2]
        assert (row.n_hit, row.recall) == (hit, round(hit / k, 6))
        # recall must be non-decreasing in depth, reaching 1.0 in the
        # limit of R -> corpus
        assert row.recall >= prev
        prev = row.recall


def test_event_bursts_recompute(spark, tables):
    from collections import Counter

    ev = tables["events"].select("ts").collect()
    hourly = Counter(r.ts.replace(
        minute=0, second=0, microsecond=0) for r in ev)
    cnts = sorted(hourly.values())
    m = len(cnts)
    if m % 2:
        med = float(cnts[m // 2])
    else:
        med = (cnts[m // 2 - 1] + cnts[m // 2]) / 2.0
    hours = sorted(hourly)
    h0 = hours[0]
    flagged = [
        (h, hourly[h], int((h - h0).total_seconds() // 3600))
        for h in hours
        if hourly[h] > 2.0 * med
    ]
    bursts = []
    for i, (h, c, idx) in enumerate(flagged):
        if i == 0 or idx != flagged[i - 1][2] + 1:
            bursts.append([h, h, 1, c, c])
        else:
            b = bursts[-1]
            b[1], b[2] = h, b[2] + 1
            b[3] = max(b[3], c)
            b[4] += c
    got = textstats.event_bursts(spark, tables).collect()
    assert len(got) == len(bursts)
    for r, b in zip(got, bursts):
        assert r.start_hour == str(b[0])
        assert r.end_hour == str(b[1])
        assert (r.n_hours, r.peak, r.total) == (b[2], b[3], b[4])
    # every burst hour really exceeds the threshold
    assert all(r.peak > 2.0 * med for r in got)


def test_embedding_qa_recompute(spark, tables):
    import math as _m

    from unichem2index_spark.operators import similarity

    rows = tables["embeddings"].select(
        "label", "embedding"
    ).collect()
    agg: dict[int, list[float]] = {}
    dims: dict[int, int] = {}
    for r in rows:
        v = [float(x) for x in r.embedding]
        acc = 0.0
        for x in v:
            acc += x * x
        agg.setdefault(r.label, []).append(_m.sqrt(acc))
        dims[r.label] = max(dims.get(r.label, 0), len(v))
    got = {r.label: r for r in
           similarity.embedding_qa(spark, tables).collect()}
    assert set(got) == set(agg)
    for lbl, ns in agg.items():
        r = got[lbl]
        assert (r.n_vecs, r.dim) == (len(ns), dims[lbl])
        assert abs(r.mean_norm - round(sum(ns) / len(ns), 6)) < 1e-5
        assert r.min_norm == round(min(ns), 6)
        assert r.max_norm == round(max(ns), 6)
        assert r.n_unnormalized == sum(
            1 for x in ns if abs(x - 1.0) > similarity.NORM_TOL
        )
        assert r.n_zero == sum(1 for x in ns if x == 0.0)
    # this corpus ships unit vectors: the audit certifies clean input
    assert all(r.n_unnormalized == 0 and r.n_zero == 0
               for r in got.values())
    assert all(abs(r.mean_norm - 1.0) <= similarity.NORM_TOL
               for r in got.values())


def test_recrawl_schedule_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    agg: dict[str, list[int]] = {}
    for d, r in by_id.items():
        changed = (d // 20) % (3 + d % 20 % 4) == 0
        a = agg.setdefault(r.source, [0, 0])
        a[0] += 1
        a[1] += changed
    got = {r.source: r for r in
           trainprep.recrawl_schedule(spark, tables).collect()}
    assert set(got) == set(agg)
    rates = set()
    for s, (np_, nc) in agg.items():
        r = got[s]
        rate = nc / np_
        days = max(1, min(30, int(_m.floor(1.0 / rate))))
        assert (r.n_pages, r.n_changed) == (np_, nc)
        assert r.change_rate == round(rate, 6)
        assert r.recrawl_days == days
        rates.add(days)
    # the planted rates differ across sources: schedule is non-constant
    assert len(rates) > 1


def test_bm25_param_sweep_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    queries = textstats.SWEEP_QUERIES
    k = textstats.SWEEP_K
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    got = {r.b: r for r in
           textstats.bm25_param_sweep(spark, tables).collect()}
    assert set(got) == set(textstats.SWEEP_BS)
    for b in textstats.SWEEP_BS:
        hits = 0
        for qid, terms, marker in queries:
            acc: dict[int, float] = {}
            for t2 in sorted(set(terms)):
                dfq = sum(1 for ts in toks.values() if t2 in ts)
                if not dfq:
                    continue
                idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
                for d, ts in toks.items():
                    tf = ts.count(t2)
                    if not tf:
                        continue
                    acc[d] = acc.get(d, 0.0) + idf * (
                        tf
                        / (tf + 1.2 * ((1.0 - b) + b * dl[d] / avgdl))
                    )
            topk = [d for d, _ in sorted(
                acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
            rel = {
                d for d, ts in toks.items() if marker in ts
            }
            hits += sum(1 for d in topk if d in rel)
        r = got[b]
        assert r.n_hits == hits
        assert r.mean_p_at_k == round(hits / (len(queries) * k), 6)
    # the sweep must actually discriminate: not all grid points equal
    assert len({r.n_hits for r in got.values()}) > 1


def test_good_turing_mass_recompute(spark, corpus, tables):
    from collections import Counter

    _, by_id = corpus
    per: dict[str, Counter] = {}
    for r in by_id.values():
        c = per.setdefault(r.source, Counter())
        c.update(tokenize(r.text))
    got = {r.source: r for r in
           textstats.good_turing_mass(spark, tables).collect()}
    assert set(got) == set(per)
    for s, c in per.items():
        v, n = len(c), sum(c.values())
        n1 = sum(1 for x in c.values() if x == 1)
        n2 = sum(1 for x in c.values() if x == 2)
        r = got[s]
        assert (r.v, r.n, r.n1, r.n2) == (v, n, n1, n2)
        assert r.missing_mass == round(n1 / n, 6)
        want = round((2.0 * n2 / n1) / n, 6) if n1 else 0.0
        assert r.p_hapax_gt == want
    # dense synthetic corpus: missing mass is tiny everywhere
    assert all(r.missing_mass < 0.01 for r in got.values())


def test_zscore_merge_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms, k, ns = ["the", "merge", "vector"], textstats.ZMERGE_K, \
        textstats.ZMERGE_SHARDS
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    by_shard: dict[int, list[int]] = {}
    for d in toks:
        by_shard.setdefault(d % ns, []).append(d)
    zed = []
    for sh, ids in by_shard.items():
        dl = {d: len(toks[d]) for d in ids if toks[d]}
        n, avgdl = len(dl), sum(dl.values()) / len(dl)
        acc: dict[int, float] = {}
        for t2 in sorted(set(terms)):
            dfq = sum(1 for d in ids if t2 in toks[d])
            if not dfq:
                continue
            idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
            for d in ids:
                tf = toks[d].count(t2)
                if not tf:
                    continue
                acc[d] = acc.get(d, 0.0) + idf * (
                    tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
                )
        local = sorted(acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        mu = sum(s for _, s in local) / len(local)
        m2 = sum(s * s for _, s in local) / len(local)
        sd = _m.sqrt(m2 - mu * mu)
        for lr, (d, s) in enumerate(local, 1):
            zed.append((d, sh, lr, s, (s - mu) / sd))
    merged = sorted(zed, key=lambda x: (-x[4], x[0]))[:k]
    naive = {d for d, *_ in sorted(zed, key=lambda x: (-x[3], x[0]))[:k]}
    got = textstats.zscore_merge_audit(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, *_ in merged]
    for r, (d, sh, lr, s, z) in zip(got, merged):
        assert (r.rank, r.shard, r.local_rank) == (
            got.index(r) + 1, sh, lr
        )
        assert abs(r.z - round(z, 6)) < 1e-6
        assert r.n_raw_agree == (1 if d in naive else 0)
    # normalization must change the page vs raw-score merging
    assert any(r.n_raw_agree == 0 for r in got)


def test_pfor_audit_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    posts: dict[str, list[int]] = {}
    for d, r in by_id.items():
        for t2 in set(tokenize(r.text)):
            posts.setdefault(t2, []).append(d)

    def vbyte(g):
        if g < 128:
            return 1
        if g < 16384:
            return 2
        if g < 2097152:
            return 3
        if g < 268435456:
            return 4
        return 5

    vb_t = pf_t = ex_t = wins = 0
    for ids in posts.values():
        s = sorted(ids)
        gaps = [s[0] + 1] + [y - x for x, y in zip(s, s[1:])]
        vb = sum(vbyte(g) for g in gaps)
        widths = sorted(g.bit_length() for g in gaps)
        b = widths[int(_m.ceil(0.9 * len(widths))) - 1]
        exc = sum(1 for w in widths if w > b)
        pf = (len(gaps) * b + 7) // 8 + 4 * exc
        vb_t += vb
        pf_t += pf
        ex_t += exc
        wins += pf < vb
    row = textstats.pfor_audit(spark, tables).collect()[0]
    assert row.n_terms == len(posts)
    assert row.varbyte_bytes == vb_t
    assert row.pfor_bytes == pf_t
    assert row.n_exceptions == ex_t
    assert row.pfor_wins == wins
    assert row.pfor_to_varbyte == round(pf_t / vb_t, 6)
    # patch rate honors the 90th percentile: exceptions <= ~10% of gaps
    total_gaps = sum(len(v) for v in posts.values())
    assert row.n_exceptions <= 0.11 * total_gaps


def test_source_vocab_overlap_recompute(spark, corpus, tables):
    _, by_id = corpus
    vocab: dict[str, set] = {}
    for r in by_id.values():
        vocab.setdefault(r.source, set()).update(tokenize(r.text))
    pairs = []
    srcs = sorted(vocab)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            inter = len(vocab[a] & vocab[b])
            jac = inter / len(vocab[a] | vocab[b])
            pairs.append((round(jac, 6), a, b, inter))
    top = sorted(pairs, key=lambda x: (-x[0], x[1], x[2]))[:10]
    got = textstats.source_vocab_overlap(spark, tables).collect()
    assert [(r.src_a, r.src_b) for r in got] == [
        (a, b) for _, a, b, _ in top
    ]
    for r, (jac, a, b, inter) in zip(got, top):
        assert (r.v_a, r.v_b, r.n_common) == (
            len(vocab[a]), len(vocab[b]), inter
        )
        assert r.jaccard == jac
    # shared synthetic vocabulary: top pairs overlap heavily
    assert got[0].jaccard > 0.8


def test_judge_agreement_kappa_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    queries, k = textstats.KAPPA_QUERIES, 20
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    got = {r.query_id: r for r in
           textstats.judge_agreement_kappa(spark, tables).collect()}
    for qid, terms, marker in queries:
        acc: dict[int, float] = {}
        for t2 in sorted(set(terms)):
            dfq = sum(1 for ts in toks.values() if t2 in ts)
            if not dfq:
                continue
            idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
            for d, ts in toks.items():
                tf = ts.count(t2)
                if tf:
                    acc[d] = acc.get(d, 0.0) + idf * (
                        tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
                    )
        page = [d for d, _ in sorted(
            acc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
        cells = [0, 0, 0, 0]  # both, a_only, b_only, neither
        for d in page:
            mtf = toks[d].count(marker)
            ja, jb = mtf >= 1, mtf >= 2
            if ja and jb:
                cells[0] += 1
            elif ja:
                cells[1] += 1
            elif jb:
                cells[2] += 1
            else:
                cells[3] += 1
        po = (cells[0] + cells[3]) / k
        pa = (cells[0] + cells[1]) / k
        pb = (cells[0] + cells[2]) / k
        pe = pa * pb + (1 - pa) * (1 - pb)
        kap = (po - pe) / (1 - pe) if pe < 1.0 else 1.0
        r = got[qid]
        assert (r.n_both, r.n_a_only, r.n_b_only, r.n_neither) == \
            tuple(cells)
        assert r.po == round(po, 6)
        assert abs(r.kappa - round(kap, 6)) < 1e-9
    # the strict judge only ever removes labels: no b-only cell
    assert all(r.n_b_only == 0 for r in got.values())


def test_idf_negative_audit_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    df: dict[str, int] = {}
    for r in by_id.values():
        for t2 in set(tokenize(r.text)):
            df[t2] = df.get(t2, 0) + 1
    n = len(by_id)
    idfs = {
        t2: _m.log((n - d + 0.5) / (d + 0.5)) for t2, d in df.items()
    }
    neg = [t2 for t2, v in idfs.items() if v < 0]
    row = textstats.idf_negative_audit(spark, tables).collect()[0]
    assert row.n_terms == len(df)
    assert row.n_negative == len(neg)
    assert row.negative_postings == sum(df[t2] for t2 in neg)
    assert row.total_postings == sum(df.values())
    assert row.negative_share == round(
        sum(df[t2] for t2 in neg) / sum(df.values()), 6
    )
    assert abs(row.min_idf - round(min(idfs.values()), 6)) < 1e-9
    # dense synthetic vocab: the classic formula DOES go negative here
    assert row.n_negative > 0


def test_countmin_audit_recompute(spark, corpus, tables):
    import hashlib
    from collections import Counter

    _, by_id = corpus
    cf = Counter(
        t2 for r in by_id.values() for t2 in tokenize(r.text)
    )
    cells: Counter = Counter()
    for t2, c in cf.items():
        h = hashlib.md5(t2.encode()).hexdigest()
        for j in range(textstats.CMS_ROWS):
            cells[(j, h[2 * j:2 * j + 2])] += c
    got = {r.term: r for r in
           textstats.countmin_audit(spark, tables).collect()}
    assert set(got) == set(textstats.CMS_PROBES)
    for t2 in textstats.CMS_PROBES:
        h = hashlib.md5(t2.encode()).hexdigest()
        est = min(
            cells[(j, h[2 * j:2 * j + 2])]
            for j in range(textstats.CMS_ROWS)
        )
        r = got[t2]
        assert (r.true_cf, r.cms_est) == (cf.get(t2, 0), est)
        assert r.overestimate == est - cf.get(t2, 0)
        # the CMS one-sided guarantee
        assert r.overestimate >= 0


def test_nextword_index_plan_recompute(spark, corpus, tables):
    from collections import Counter

    _, by_id = corpus
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    per_doc: Counter = Counter()
    for d, ts in toks.items():
        for a, b in zip(ts, ts[1:]):
            per_doc[(f"{a} {b}", d)] += 1
    tot: Counter = Counter()
    dfp: Counter = Counter()
    for (bg, d), c in per_doc.items():
        tot[bg] += c
        dfp[bg] += 1
    top = sorted(tot.items(), key=lambda kv: (-kv[1], kv[0]))[
        :textstats.NEXTWORD_TOP
    ]
    got = textstats.nextword_index_plan(spark, tables).collect()
    assert [r.bigram for r in got] == [bg for bg, _ in top]
    for r in got:
        a, b = r.bigram.split(" ")
        decode = sum(
            toks[d].count(a) + toks[d].count(b)
            for (bg, d) in per_doc
            if bg == r.bigram
        )
        assert (r.n_pairs, r.df_pair) == (tot[r.bigram], dfp[r.bigram])
        assert r.decode_positions == decode
        assert r.nw_bytes == dfp[r.bigram] * 5 + tot[r.bigram]
        # the nextword trade: postings bytes far below decode volume
        assert r.nw_bytes < r.decode_positions * 4


def _bm25_py(toks, dl, terms):
    import math as _m

    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    acc: dict[int, float] = {}
    for t2 in sorted(set(terms)):
        dfq = sum(1 for d in dl if t2 in toks[d])
        if not dfq:
            continue
        idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
        for d in dl:
            tf = toks[d].count(t2)
            if tf:
                acc[d] = acc.get(d, 0.0) + idf * (
                    tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
                )
    return acc


def test_generation_rank_drift_recompute(spark, corpus, tables):
    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], textstats.DRIFT_K
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl_all = {d: len(ts) for d, ts in toks.items() if ts}
    surv = {d: n for d, n in dl_all.items() if d % 10 != 3}
    old = [d for d, _ in sorted(
        _bm25_py(toks, dl_all, terms).items(),
        key=lambda kv: (-kv[1], kv[0]))[:k]]
    old_rank = {d: i + 1 for i, d in enumerate(old)}
    new_scores = _bm25_py(toks, surv, terms)
    new = sorted(
        new_scores.items(), key=lambda kv: (-kv[1], kv[0])
    )[:k]
    got = textstats.generation_rank_drift(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in new]
    for i, (r, (d, s)) in enumerate(zip(got, new), 1):
        assert r.rank == i
        assert abs(r.score - round(s, 6)) < 1e-6
        assert r.old_rank == old_rank.get(d, 0)
        assert r.moved == (1 if old_rank.get(d, 0) != i else 0)
    # no tombstoned doc survives into the new page
    assert all(r.doc_id % 10 != 3 for r in got)


def test_post_filter_facets_recompute(spark, corpus, tables):
    from collections import Counter

    _, by_id = corpus
    terms, sel, k = ["the", "merge", "vector"], "en", 10
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    scores = _bm25_py(toks, dl, terms)
    langs = {d: by_id[d].lang for d in by_id}
    facets = Counter(langs[d] for d in scores)
    page = [d for d, _ in sorted(
        ((d, s) for d, s in scores.items() if langs[d] == sel),
        key=lambda kv: (-kv[1], kv[0]))[:k]]
    got = {r.lang: r for r in
           textstats.post_filter_facets(spark, tables).collect()}
    assert set(got) == set(facets)
    for lg, n in facets.items():
        r = got[lg]
        assert r.n_matched == n
        assert r.selected == (1 if lg == sel else 0)
        assert r.n_topk == (len(page) if lg == sel else 0)
    # the post_filter invariant: unselected facets keep full counts
    assert sum(r.n_matched for r in got.values()) == len(scores)


def test_sampled_df_accuracy_recompute(spark, corpus, tables):
    _, by_id = corpus
    terms = ["the", "merge", "vector", "customer"]
    toks = {d: set(tokenize(r.text)) for d, r in by_id.items()}
    got = {r.term: r for r in
           textstats.sampled_df_accuracy(spark, tables).collect()}
    assert set(got) == set(terms)
    for t2 in terms:
        exact = sum(1 for ts in toks.values() if t2 in ts)
        samp = sum(
            1 for d, ts in toks.items()
            if d % textstats.SAMPLED_DF_EVERY == 0 and t2 in ts
        )
        r = got[t2]
        assert (r.exact_df, r.sample_df, r.est_df) == (
            exact, samp, samp * textstats.SAMPLED_DF_EVERY
        )
        assert r.rel_err == round(
            abs(samp * 3.0 - exact) / exact, 6
        )
    # systematic sampling tracks high-df terms tightly
    assert got["the"].rel_err < 0.1


def test_taat_accumulator_recompute(spark, corpus, tables):
    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], textstats.TAAT_K
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    scores = _bm25_py(toks, dl, terms)
    df = {
        t2: sum(1 for ts in toks.values() if t2 in ts)
        for t2 in sorted(set(terms))
    }
    order = sorted(df, key=lambda t2: (df[t2], t2))
    phase = {t2: i + 1 for i, t2 in enumerate(order)}
    first_phase = {
        d: min(phase[t2] for t2 in terms if t2 in toks[d])
        for d in scores
    }
    adm_order = sorted(scores, key=lambda d: (first_phase[d], d))
    exact = {d for d, _ in sorted(
        scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]}
    got = {r.a_cap: r for r in
           textstats.taat_accumulator_audit(spark, tables).collect()}
    assert set(got) == set(textstats.TAAT_CAPS)
    prev = -1.0
    for a in textstats.TAAT_CAPS:
        adm = set(adm_order[:a])
        page = {d for d, _ in sorted(
            ((d, scores[d]) for d in adm),
            key=lambda kv: (-kv[1], kv[0]))[:k]}
        r = got[a]
        assert r.n_acc == min(a, len(scores))
        assert r.n_hit == len(page & exact)
        assert r.recall == round(len(page & exact) / k, 6)
        assert r.recall >= prev  # more accumulators never hurt
        prev = r.recall
    # at the largest cap on this corpus the curve has converged
    assert got[max(textstats.TAAT_CAPS)].recall >= 0.5


def test_jass_anytime_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], textstats.JASS_K
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n, avgdl = len(dl), sum(dl.values()) / len(dl)
    partials = []
    for t2 in sorted(set(terms)):
        dfq = sum(1 for ts in toks.values() if t2 in ts)
        if not dfq:
            continue
        idf = _m.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
        for d, ts in toks.items():
            tf = ts.count(t2)
            if tf:
                partials.append(
                    (d, t2, idf * (
                        tf / (tf + 1.2 * (0.25 + 0.75 * dl[d] / avgdl))
                    ))
                )
    gmax = max(p for _, _, p in partials)
    quant = [
        (d, t2, int(_m.floor(p / gmax * 255.0)))
        for d, t2, p in partials
    ]
    ordered = sorted(quant, key=lambda x: (-x[2], x[1], x[0]))
    full: dict[int, float] = {}
    for d, _, p in partials:
        full[d] = full.get(d, 0.0) + p
    exact = {d for d, _ in sorted(
        full.items(), key=lambda kv: (-kv[1], kv[0]))[:k]}
    got = {round(r.rho, 3): r for r in
           textstats.jass_anytime_audit(spark, tables).collect()}
    for rho in textstats.JASS_RHOS:
        take = int(_m.ceil(rho * len(ordered)))
        isc: dict[int, int] = {}
        for d, _, imp in ordered[:take]:
            isc[d] = isc.get(d, 0) + imp
        page = {d for d, _ in sorted(
            isc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]}
        r = got[rho]
        assert r.postings_used == take
        assert r.n_hit == len(page & exact)
        assert r.recall == round(len(page & exact) / k, 6)
    # full budget with 8-bit impacts still tracks the float ranking
    assert got[1.0].recall >= 0.8


def test_proximity_histogram_recompute(spark, corpus, tables):
    _, by_id = corpus
    a, b = "merge", "group"
    gaps = {}
    for d, r in by_id.items():
        ts = tokenize(r.text)
        pa = [i for i, x in enumerate(ts) if x == a]
        pb = [i for i, x in enumerate(ts) if x == b]
        if pa and pb:
            gaps[d] = min(abs(x - y) for x in pa for y in pb) - 1

    def bucket(g):
        for label, hi in (("0", 0), ("1", 1), ("2-3", 3),
                          ("4-7", 7), ("8-15", 15)):
            if g <= hi:
                return label
        return "16+"

    from collections import Counter

    want = Counter(bucket(g) for g in gaps.values())
    got = {r.bucket: r for r in
           textstats.proximity_histogram(spark, tables).collect()}
    assert set(got) == set(want)
    for lbl, n in want.items():
        r = got[lbl]
        sub = [g for g in gaps.values() if bucket(g) == lbl]
        assert (r.n_docs, r.min_gap, r.max_gap) == (
            n, min(sub), max(sub)
        )
        assert r.share == round(n / len(gaps), 6)
    # shares partition the co-occurring docs
    assert sum(r.n_docs for r in got.values()) == len(gaps)


def test_query_reduction_audit_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    base = list(textstats.QRED_BASE)
    k = textstats.QRED_K
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    variants = [(0, base)] + [
        (i + 1, [t2 for j, t2 in enumerate(base) if j != i])
        for i in range(len(base))
    ]
    rel = {d for d, ts in toks.items()
           if textstats.QRED_MARKER in ts}
    got = {r.vid: r for r in
           textstats.query_reduction_audit(spark, tables).collect()}
    assert set(got) == {v for v, _ in variants}
    for vid, terms in variants:
        sc = _bm25_py(toks, dl, terms)
        mu_all = sum(sc.values()) / len(sc)
        page = sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        mu_k = sum(s for _, s in page) / len(page)
        m2 = sum(s * s for _, s in page) / len(page)
        nqc = _m.sqrt(m2 - mu_k * mu_k) / mu_all
        hits = sum(1 for d, _ in page if d in rel)
        r = got[vid]
        assert r.terms == ",".join(terms)
        assert r.n_matched == len(sc)
        assert abs(r.nqc - round(nqc, 6)) < 1e-5
        assert r.n_rel_topk == hits
        assert r.p_at_k == round(hits / k, 6)
    # the sweep discriminates: variants do not all score equal P@k
    assert len({r.n_rel_topk for r in got.values()}) > 1


def test_prior_mix_audit_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    terms, k = ["the", "merge", "vector"], textstats.PRIOR_K
    toks = {d: tokenize(r.text) for d, r in by_id.items()}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    bm = _bm25_py(toks, dl, terms)
    ids = sorted(by_id)
    n = len(ids)
    edges = set()
    for d in ids:
        for j in (1, 2, 3):
            dst = ((d % MOD + j) * FP_MULT) % MOD % n
            if dst != d:
                edges.add((d, dst))
    indeg = {}
    for _, dst in edges:
        indeg[dst] = indeg.get(dst, 0) + 1
    mixed = {
        d: s + textstats.PRIOR_W * _m.log(1.0 + indeg.get(d, 0))
        for d, s in bm.items()
    }
    plain = [d for d, _ in sorted(
        bm.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]
    old_rank = {d: i + 1 for i, d in enumerate(plain)}
    page = sorted(mixed.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    got = textstats.prior_mix_audit(spark, tables).collect()
    assert [r.doc_id for r in got] == [d for d, _ in page]
    for i, (r, (d, s)) in enumerate(zip(got, page), 1):
        assert r.rank == i
        assert abs(r.score - round(s, 6)) < 1e-6
        assert r.indeg == indeg.get(d, 0)
        assert r.old_rank == old_rank.get(d, 0)
    # the prior must actually move the page vs plain BM25
    assert [r.doc_id for r in got] != plain


def test_dedup_threshold_sweep_recompute(spark, corpus, tables):
    _, by_id = corpus
    sets = {d: set(tokenize(r.text)) for d, r in by_id.items()}
    ids = sorted(sets)
    pairs = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter:
                pairs.append(
                    (a, b, inter / len(sets[a] | sets[b]))
                )
    got = {round(r.tau, 3): r for r in
           textstats.dedup_threshold_sweep(spark, tables).collect()}
    assert set(got) == set(textstats.DEDUP_TAUS)
    prev_pairs = None
    for tau in textstats.DEDUP_TAUS:
        hit = [(a, b) for a, b, j in pairs if j >= tau]
        docs = {x for p in hit for x in p}
        r = got[tau]
        assert (r.n_pairs, r.n_docs) == (len(hit), len(docs))
        # monotone: higher tau never finds more pairs
        if prev_pairs is not None:
            assert r.n_pairs <= prev_pairs
        prev_pairs = r.n_pairs


def test_partitioning_cost_audit_recompute(spark, corpus, tables):
    _, by_id = corpus
    terms, ns = ["the", "merge", "vector"], textstats.PART_SHARDS
    rows_per_shard = [0] * ns
    for d, r in by_id.items():
        ts = set(tokenize(r.text))
        hit = sum(1 for t2 in terms if t2 in ts)
        rows_per_shard[d % ns] += hit
    row = textstats.partitioning_cost_audit(spark, tables).collect()[0]
    assert row.n_shards == ns
    assert row.termp_network_rows == sum(rows_per_shard)
    assert row.docp_max_shard_rows == max(rows_per_shard)
    assert row.docp_min_shard_rows == min(rows_per_shard)
    assert row.docp_imbalance == round(
        max(rows_per_shard) * ns / sum(rows_per_shard), 6
    )
    # uniform doc sharding: near-balanced load
    assert row.docp_imbalance < 1.5


def test_hybrid_codec_assignment_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    posts: dict[str, list[int]] = {}
    for d, r in by_id.items():
        for t2 in set(tokenize(r.text)):
            posts.setdefault(t2, []).append(d)
    u = max(d for ids in posts.values() for d in ids) + 1

    def vbyte(g):
        for n, lim in ((1, 128), (2, 16384), (3, 2097152),
                       (4, 268435456)):
            if g < lim:
                return n
        return 5

    tot = dict(vb=0, eb=0, pf=0, best=0, wv=0, we=0, wp=0)
    for ids in posts.values():
        s = sorted(ids)
        gaps = [s[0] + 1] + [y - x for x, y in zip(s, s[1:])]
        df = len(s)
        vb = sum(vbyte(g) for g in gaps)
        l = max(0, (u // df).bit_length() - 1)
        eb = (df * l + df + u // (1 << l) + 1 + 7) // 8
        widths = sorted(g.bit_length() for g in gaps)
        b = widths[int(_m.ceil(0.9 * len(widths))) - 1]
        exc = sum(1 for w in widths if w > b)
        pf = (df * b + 7) // 8 + 4 * exc
        best = min(vb, eb, pf)
        tot["vb"] += vb
        tot["eb"] += eb
        tot["pf"] += pf
        tot["best"] += best
        if best == vb:
            tot["wv"] += 1
        elif best == eb:
            tot["we"] += 1
        else:
            tot["wp"] += 1
    row = textstats.hybrid_codec_assignment(
        spark, tables
    ).collect()[0]
    assert row.n_terms == len(posts)
    assert (row.varbyte_total, row.ef_total, row.pfor_total,
            row.hybrid_total) == (
        tot["vb"], tot["eb"], tot["pf"], tot["best"]
    )
    assert (row.varbyte_wins, row.ef_wins, row.pfor_wins) == (
        tot["wv"], tot["we"], tot["wp"]
    )
    best_single = min(tot["vb"], tot["eb"], tot["pf"])
    assert row.hybrid_saving == round(
        1.0 - tot["best"] / best_single, 6
    )
    # argmin can never lose to the best single codec
    assert row.hybrid_total <= best_single


def test_blockmax_metadata_overhead_recompute(spark, corpus, tables):
    _, by_id = corpus
    posts: dict[str, list[int]] = {}
    for d, r in by_id.items():
        for t2 in set(tokenize(r.text)):
            posts.setdefault(t2, []).append(d)

    def vbyte(g):
        for n, lim in ((1, 128), (2, 16384), (3, 2097152),
                       (4, 268435456)):
            if g < lim:
                return n
        return 5

    blocks = vb_t = 0
    for ids in posts.values():
        s = sorted(ids)
        blocks += len({d // 64 for d in s})
        gaps = [s[0] + 1] + [y - x for x, y in zip(s, s[1:])]
        vb_t += sum(vbyte(g) for g in gaps)
    row = textstats.blockmax_metadata_overhead(
        spark, tables
    ).collect()[0]
    assert row.n_terms == len(posts)
    assert row.total_blocks == blocks
    assert row.metadata_bytes == blocks * 6
    assert row.postings_bytes == vb_t
    assert row.overhead_ratio == round(blocks * 6.0 / vb_t, 6)


def test_knn_label_purity_recompute(spark, tables):
    import math as _m

    from unichem2index_spark.operators import similarity

    rows = tables["embeddings"].select(
        "vec_id", "label", "embedding"
    ).collect()
    vecs = {r.vec_id: ([float(x) for x in r.embedding], r.label)
            for r in rows}
    nq, k = similarity.PURITY_QUERIES, similarity.PURITY_K

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (_m.sqrt(na) * _m.sqrt(nb))

    got = {r.query_id: r for r in
           similarity.knn_label_purity(spark, tables).collect()}
    assert set(got) == set(range(nq))
    for q in range(nq):
        qv, ql = vecs[q]
        scored = sorted(
            ((cos(qv, v), vid, lbl)
             for vid, (v, lbl) in vecs.items() if vid >= nq),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        same = sum(1 for _, _, lbl in scored if lbl == ql)
        r = got[q]
        assert r.qlabel == ql
        assert r.n_same == same
        assert r.purity == round(same / k, 6)
    # the audit's honest finding on THIS corpus: labels are random wrt
    # the embedding geometry, so purity sits at ~the 1/n_labels base
    # rate (the "don't trust these labels for ANN eval" outcome) — it
    # must not wildly exceed chance
    n_labels = len({lbl for _, lbl in vecs.values()})
    mean_purity = sum(r.purity for r in got.values()) / nq
    assert mean_purity <= 3.0 / n_labels


def test_term_position_bias_recompute(spark, corpus, tables):
    _, by_id = corpus
    terms = ["the", "merge", "vector", "customer"]
    rels: dict[str, list[float]] = {t2: [] for t2 in terms}
    for r in by_id.values():
        ts = tokenize(r.text)
        n = len(ts)
        for i, t2 in enumerate(ts):
            if t2 in rels:
                rels[t2].append(i / n)
    got = {r.term: r for r in
           textstats.term_position_bias(spark, tables).collect()}
    assert set(got) == {t2 for t2 in terms if rels[t2]}
    for t2, xs in rels.items():
        if not xs:
            continue
        r = got[t2]
        assert r.n_occ == len(xs)
        assert abs(r.mean_rel_pos - round(sum(xs) / len(xs), 6)) < 1e-6
        assert r.first_decile_share == round(
            sum(1 for x in xs if x < 0.1) / len(xs), 6
        )
        # uniform synthetic text: mean near the middle
        assert 0.3 < r.mean_rel_pos < 0.7


def test_heaps_extrapolation_recompute(spark, corpus, tables):
    import math as _m

    _, by_id = corpus
    mx = max(by_id)

    def vt(num, den):
        toks = [
            t2 for d, r in by_id.items()
            if d * den <= mx * num
            for t2 in tokenize(r.text)
        ]
        return len(set(toks)), len(toks)

    v1, t1 = vt(1, 4)
    v2, t2_ = vt(1, 2)
    v_true, t_full = vt(1, 1)
    beta = _m.log(v2 / v1) / _m.log(t2_ / t1)
    k = v1 / (t1 ** beta)
    v_pred = k * (t_full ** beta)
    row = textstats.heaps_extrapolation(spark, tables).collect()[0]
    assert (row.t1, row.v1, row.t2, row.v2) == (t1, v1, t2_, v2)
    assert (row.t_full, row.v_true) == (t_full, v_true)
    assert abs(row.beta - round(beta, 6)) < 1e-6
    assert abs(row.v_pred - round(v_pred, 6)) < 1e-3
    assert row.rel_err == round(abs(v_pred - v_true) / v_true, 6)
    # the tiny closed vocabulary saturates early: sublinear growth
    assert row.beta < 0.5

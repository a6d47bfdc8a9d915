"""Dedup operators: shingle-df-cap blocking under source skew, and the
S4/S5 pipe-CSV source/sink round-trip (ref: alter/testDataLoader.go:42-61,
alter/spool2M.sql:13-35)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from unichem2index_spark.functions.tokenize import tokenize
from unichem2index_spark.operators.dedup import ngram_jaccard_pairs, vocab_ids
from unichem2index_spark.sources.tables import read_pipe_csv, write_pipe_csv

from tests.conftest import SF_CORRECT


def _brute_force_pairs(rows, threshold, df_cap):
    """Pure-Python oracle of the df-cap blocking semantics."""
    shingles = {}
    for doc_id, text in rows:
        toks = tokenize(text)
        ss = {
            " ".join(toks[i : i + 3]) for i in range(max(0, len(toks) - 2))
        }
        shingles[doc_id] = ss
    df = {}
    for ss in shingles.values():
        for s in ss:
            df[s] = df.get(s, 0) + 1
    rare = {s for s, c in df.items() if c <= df_cap}
    out = []
    for a, b in itertools.combinations(sorted(shingles), 2):
        sa, sb = shingles[a], shingles[b]
        if not (sa & sb & rare):
            continue  # blocking: must share a rare shingle
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if round(j, 6) >= threshold:
            out.append((a, b))
    return sorted(out)


def test_ngram_blocking_skewed_source(spark):
    """One mega-source holds nearly all docs (the CC single-domain skew
    case) plus a boilerplate shingle shared by EVERY doc: pairs must still
    match the pure oracle, and the boilerplate never forms candidates."""
    boiler = "subscribe to our newsletter today"
    texts = {
        0: f"alpha beta gamma delta epsilon zeta. {boiler}",
        1: f"alpha beta gamma delta epsilon zeta. {boiler}",   # dup of 0
        2: f"alpha beta gamma delta epsilon eta. {boiler}",    # near-dup
        3: f"completely different words entirely here. {boiler}",
        4: f"another unrelated document text body. {boiler}",
        5: f"completely different words entirely here. {boiler}",  # dup of 3
    }
    rows = [
        (i, txt, "en", "mega-source.com" if i != 5 else "tiny.org", len(txt))
        for i, txt in texts.items()
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(spark, {"documents": df}, 0.5, df_cap=3).collect()
    )
    want = _brute_force_pairs(list(texts.items()), 0.5, 3)
    assert got == want
    assert (0, 1) in got and (3, 5) in got  # cross-source dup found
    # the boilerplate shingle spans all 6 docs (df=6 > cap=3): docs sharing
    # ONLY boilerplate never pair up
    assert (0, 4) not in got and (1, 3) not in got


def test_ngram_matches_brute_force_on_corpus_sample(spark):
    docs = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .where(F.col("doc_id") < 60)
    )
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(spark, {"documents": docs}, 0.5).collect()
    )
    rows = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    want = _brute_force_pairs(rows, 0.5, 50)
    assert [(a, b) for a, b, _ in got] == want


def test_vocab_rank_adversarial_prefix_skew(spark):
    """Every term shares the hot 2-char prefix 'co' (the natural-language
    skew case: 'co', 'th', … dominate). The two-level rank must (a) still
    equal row_number() OVER (ORDER BY term) - 1, and (b) fan the
    within-bucket rank out over the 3rd character so no single rank task
    holds more than one 3-char bucket's share of the vocabulary."""
    from unichem2index_spark.operators.dedup import vocab_ids

    third = "abcdefghijklmnopqrst"  # 20 distinct 3rd chars
    terms = [f"co{c}{i:04d}" for c in third for i in range(100)]
    # mix in short terms that ARE their own prefix ('co', 'c') — the
    # substring-prefix bucketing must order these correctly too
    terms += ["c", "co", "cob"]
    tok = spark.createDataFrame(
        [(i, "s", [t]) for i, t in enumerate(terms)],
        "doc_id long, source string, tokens array<string>",
    )
    got = {
        r.term: r.token_id for r in vocab_ids(tok).collect()
    }
    want = {t: i for i, t in enumerate(sorted(set(terms)))}
    assert got == want
    # skew bound: max 3-char bucket holds ~1/20 of the vocab, not all of it
    from collections import Counter

    shares = Counter(t[:3] for t in set(terms))
    assert max(shares.values()) / len(set(terms)) < 0.06


def test_dedup_exact_digest_keyed(spark):
    """dedup_exact groups on md5(text), never shipping text through the
    shuffle; equal texts collapse, distinct texts survive, and the digest
    column matches a locally computed md5."""
    import hashlib

    from unichem2index_spark.operators.dedup import dedup_exact

    texts = ["same body here", "same body here", "another body", "third"]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.keeper_doc_id: r for r in dedup_exact(spark, {"documents": df}).collect()}
    # doubled corpus: each distinct text appears 2x its base count
    assert out[0].n_copies == 4 and out[2].n_copies == 2 and out[3].n_copies == 2
    assert out[0].text_md5 == hashlib.md5(b"same body here").hexdigest()


def test_pipe_csv_roundtrip(spark, tmp_path):
    orders = spark.read.parquet(f"{SF_CORRECT}/orders.parquet").limit(500)
    path = str(tmp_path / "orders_csv")
    write_pipe_csv(orders, path)
    back = read_pipe_csv(spark, path, schema=orders.schema)
    a = sorted(tuple(r) for r in orders.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b
    # header + '|' separator actually on disk
    import glob

    part = sorted(glob.glob(f"{path}/part-*"))[0]
    with open(part) as f:
        head = f.readline()
    assert "|" in head and "o_orderkey" in head


def test_exact_substring_dedup_recompute(spark):
    from unichem2index_spark.functions.tokenize import tokenize
    from unichem2index_spark.operators.dedup import (
        SUBSTR_W,
        exact_substring_dedup,
    )
    from unichem2index_spark.sources.tables import load_tables

    from tests.conftest import SF_SMOKE

    t = load_tables(spark, SF_SMOKE)
    rows = exact_substring_dedup(spark, t).collect()
    assert rows  # the synthetic corpus plants cross-doc duplicate passages

    # brute-force recompute
    wins_by_doc: dict = {}
    for r in t["documents"].select("doc_id", "text").collect():
        toks = tokenize(r.text)
        wins_by_doc[r.doc_id] = [
            " ".join(toks[i : i + SUBSTR_W])
            for i in range(len(toks) - SUBSTR_W + 1)
        ]
    docs_of: dict = {}
    for d, ws in wins_by_doc.items():
        for w in set(ws):
            docs_of.setdefault(w, set()).add(d)
    dup_wins = {w for w, ds in docs_of.items() if len(ds) >= 2}
    exp = {}
    for d, ws in wins_by_doc.items():
        nd = sum(1 for w in ws if w in dup_wins)
        if nd:
            exp[d] = (len(ws), nd, round(nd / len(ws), 6))
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_frac) for r in rows
    }
    assert got == exp
    # a window duplicated only within ONE doc must not count: every flagged
    # window set spans >= 2 docs by construction of dup_wins above (the
    # equality with the brute force proves the operator agrees).


def test_neardup_clusters_union_find(spark):
    from unichem2index_spark.operators.dedup import (
        dedup_keep_best,
        minhash_lsh_pairs,
        neardup_clusters,
    )
    from unichem2index_spark.functions.tokenize import tokenize
    from unichem2index_spark.sources.tables import load_tables

    from tests.conftest import SF_SMOKE

    t = load_tables(spark, SF_SMOKE)
    pairs = [
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(spark, t).select("doc_a", "doc_b").collect()
    ]
    assert pairs  # the synthetic corpus plants near-dups

    # brute-force union-find over the same pairs
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for x in parent:
        comp.setdefault(find(x), set()).add(x)
    exp = {}
    for root, members in comp.items():
        cid = min(members)
        for m in members:
            exp[m] = (cid, len(members))

    rows = neardup_clusters(spark, t).collect()
    got = {r.doc_id: (r.cluster_id, r.cluster_size) for r in rows}
    assert got == exp
    for r in rows:
        assert r.cluster_size >= 2  # every node has degree >= 1

    # keep-best: exactly one keeper per cluster = longest doc, tie min id
    kb = dedup_keep_best(spark, t).collect()
    doclen = {
        r.doc_id: len(tokenize(r.text))
        for r in t["documents"].select("doc_id", "text").collect()
    }
    by_cluster: dict = {}
    for r in kb:
        assert doclen[r.doc_id] == r.doclen
        by_cluster.setdefault(r.cluster_id, []).append(r)
    assert set(by_cluster) == {cid for cid, _ in exp.values()}
    for cid, members in by_cluster.items():
        keepers = [r for r in members if r.keep == 1]
        assert len(keepers) == 1
        best = min(members, key=lambda r: (-r.doclen, r.doc_id))
        assert keepers[0].doc_id == best.doc_id


def test_vocab_ids_fails_when_the_source_gains_a_bucket(spark, tmp_path):
    """vocab_ids collects its 3-char bucket offsets on the driver, and
    the plan it returns evaluates the source again. A source that gained
    a term in a new bucket in between must fail the query, not drop the
    term. The source here re-reads a file on every evaluation (an
    appended parquet file would not do: a DataFrame keeps the file
    listing it was read with)."""
    words = tmp_path / "words.txt"
    words.write_text("alpha beta")
    path = str(words)

    @F.udf("array<string>")
    def live_tokens(_):
        with open(path) as f:
            return f.read().split()

    tok = spark.range(1).select(
        F.col("id").alias("doc_id"), live_tokens("id").alias("tokens")
    )
    ids = vocab_ids(tok)
    words.write_text("alpha beta zulu")
    with pytest.raises(PySparkException, match="no offset for bucket zul"):
        ids.collect()

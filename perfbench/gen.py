"""Seeded synthetic inputs for the benchmark.

Everything the engine receives is made here from ``(seed, params)`` with the
standard library's ``random.Random``; the same pair gives identical rows,
queries and phrases on every host.

* :func:`gen_corpus` — webtext-schema rows ``(url, warc_ts, html, text,
  lang)`` over a Zipf vocabulary of pseudo-words, with lognormal document
  lengths and a share of rows that re-crawl an earlier url. Word lengths
  follow rank and doc lengths sit on the lognormal's quantile grid, so
  seeds change which words and docs, not how much text.
* :func:`live_docs` — what dedup-by-url must keep (newest ``warc_ts``) with
  the dense ``doc_id`` = rank of the url, as the engine assigns it.
* :func:`gen_wand_queries` / :func:`gen_phrases` — query sets drawn from
  the corpus' own head / torso / tail terms and its text.
"""

from __future__ import annotations

import datetime as dt
import html as _html
import math
import random
from collections import Counter
from statistics import NormalDist
from dataclasses import asdict, dataclass

LANGS = ("en", "de", "es", "fr", "zh")
_ONSETS = "b c d f g h j k l m n p r s t v w z".split()
_VOWELS = "a e i o u".split()
BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
N_HOSTS = 97


@dataclass(frozen=True)
class CorpusParams:
    """Workload knobs the engine's cost depends on."""

    n_urls: int  # distinct urls (= live docs after dedup)
    vocab_size: int  # pseudo-words in the Zipf vocabulary
    zipf_s: float  # P(rank r) ~ 1 / (r + 1) ** zipf_s
    doclen_mu: float  # doc length in tokens ~ lognormal(mu, sigma) ...
    doclen_sigma: float
    doclen_min: int  # ... clamped to [min, max]
    doclen_max: int
    dup_url_share: float  # extra rows re-crawling an earlier url, / n_urls

    def as_dict(self) -> dict:
        return asdict(self)


def make_vocab(rng: random.Random, size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words; list index = Zipf rank.
    A word's length depends only on its rank (2 letters for the 45 most
    frequent, 4 up to rank 4000, then 6), so text bytes per token do not
    swing with the seed. Letters only, so the engine's ``[a-z0-9]+``
    tokenizer keeps each word whole."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        rank = len(out)
        syllables = 1 if rank < 45 else 2 if rank < 4000 else 3
        w = "".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syllables))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def zipf_cum_weights(n: int, s: float) -> list[float]:
    cum, acc = [], 0.0
    for r in range(n):
        acc += 1.0 / (r + 1) ** s
        cum.append(acc)
    return cum


def render_html(text: str, title: str) -> bytes:
    """HTML whose extraction (script/style/comment removal, body only,
    tags -> space, whitespace collapse) is exactly ``text``."""
    words = _html.escape(text).split(" ")
    cut = len(words) // 2
    p1, p2 = " ".join(words[:cut]), " ".join(words[cut:])
    body = f"<p>{p1}</p>\n<p>{p2}</p>" if p1 and p2 else f"<p>{' '.join(words)}</p>"
    return (
        f"<html><head><title>{title}</title>"
        "<script>var n = 1 < 2;</script><style>p { margin: 0 }</style>"
        f"</head>\n<body><!-- crawl -->{body}</body></html>"
    ).encode("utf-8")


class TextSource:
    """Draws documents from one seeded Zipf vocabulary."""

    def __init__(self, rng: random.Random, p: CorpusParams):
        self.p = p
        self.vocab = make_vocab(rng, p.vocab_size)
        self._cum = zipf_cum_weights(p.vocab_size, p.zipf_s)

    def lengths(self, rng: random.Random, n: int) -> list[int]:
        """``n`` doc lengths on the clamped lognormal's quantile grid, in
        random order: every seed gets the same length distribution."""
        p = self.p
        nd = NormalDist(p.doclen_mu, p.doclen_sigma)
        out = [
            max(p.doclen_min, min(p.doclen_max, int(math.exp(nd.inv_cdf((j + 0.5) / n)))))
            for j in range(n)
        ]
        rng.shuffle(out)
        return out

    def text(self, rng: random.Random, n: int) -> str:
        return " ".join(rng.choices(self.vocab, cum_weights=self._cum, k=n))


def _row(url: str, ts: dt.datetime, text: str, lang: str) -> dict:
    return {
        "url": url,
        "warc_ts": ts,
        "html": render_html(text, url.rsplit("/", 1)[-1]),
        "text": text,
        "lang": lang,
    }


def gen_corpus(seed: int, p: CorpusParams) -> tuple[TextSource, list[dict]]:
    """Webtext rows: ``n_urls`` first crawls plus ``dup_url_share * n_urls``
    re-crawls of random earlier urls, each with new text and a distinct
    timestamp before or after the first crawl. Row order is shuffled."""
    rng = random.Random(seed)
    src = TextSource(rng, p)
    n_dup = round(p.dup_url_share * p.n_urls)
    lengths = src.lengths(rng, p.n_urls + n_dup)
    rows = []
    for i in range(p.n_urls):
        url = f"https://h{rng.randrange(N_HOSTS)}.example/p/{i}"
        rows.append(_row(url, BASE_TS + dt.timedelta(seconds=i), src.text(rng, lengths[i]), LANGS[i % 5]))
    for j in range(n_dup):
        first = rows[rng.randrange(p.n_urls)]
        shift = dt.timedelta(minutes=j + 1) * rng.choice((-1, 1))
        rows.append(_row(first["url"], first["warc_ts"] + shift,
                         src.text(rng, lengths[p.n_urls + j]), first["lang"]))
    rng.shuffle(rows)
    return src, rows


def gen_wave(
    src: TextSource, seed: int, wave: int, live_urls: list[str], n_new: int,
    n_replace: int, ts: dt.datetime,
) -> list[dict]:
    """One update wave: ``n_new`` unseen urls plus ``n_replace`` re-crawls
    of distinct live urls, all newer than anything before them."""
    rng = random.Random(f"{seed}/wave/{wave}")
    lengths = src.lengths(rng, n_new + n_replace)
    rows = [
        _row(f"https://h{rng.randrange(N_HOSTS)}.example/w{wave}/{i}", ts,
             src.text(rng, lengths[i]), LANGS[i % 5])
        for i in range(n_new)
    ]
    for url in rng.sample(sorted(live_urls), n_replace):
        rows.append(_row(url, ts, src.text(rng, lengths[len(rows)]), LANGS[len(rows) % 5]))
    return rows


def live_docs(rows: list[dict], first_id: int = 0) -> list[dict]:
    """Rows kept by dedup-by-url (newest ``warc_ts`` wins), each with
    ``doc_id = first_id + rank of its url``, ordered by doc_id."""
    newest: dict[str, dict] = {}
    for r in rows:
        cur = newest.get(r["url"])
        if cur is None or r["warc_ts"] > cur["warc_ts"]:
            newest[r["url"]] = r
    return [
        {"doc_id": first_id + i, **newest[u]} for i, u in enumerate(sorted(newest))
    ]


def term_bands(docs: list[dict], vocab: list[str]) -> dict[str, list[str]]:
    """Vocabulary terms present in ``docs``, split by Zipf rank into head
    (top 1%), torso (next 9%) and tail (the rest)."""
    df = Counter(t for d in docs for t in set(d["text"].split()))
    present = [t for t in vocab if df[t]]
    h = max(1, len(present) // 100)
    t = max(h + 1, len(present) // 10)
    return {"head": present[:h], "torso": present[h:t], "tail": present[t:]}


WAND_K = (10, 1, 10, 100, 10)  # k of shape qid % 5: mostly 10, plus 1 and 100
PHRASE_SHAPES = ((2, 10), (3, 100))  # (tokens, k) of phrase i % 2


def gen_wand_queries(
    rng: random.Random, bands: dict[str, list[str]], n: int
) -> list[dict]:
    """``n`` queries whose shapes cycle with period 5, so every seed and
    every whole number of cycles gets the same mix: shape s = qid % 5 has
    1 + s terms, k = WAND_K[s], and term j drawn from band
    (head, torso, tail)[(s + j) % 3]; only the terms themselves are
    random."""
    names = [b for b in ("head", "torso", "tail") if bands[b]]
    out = []
    for qid in range(n):
        s = qid % 5
        terms = sorted({
            rng.choice(bands[names[(s + j) % len(names)]]) for j in range(1 + s)
        })
        out.append({"query_id": qid, "terms": terms, "k": WAND_K[s]})
    return out


def gen_phrases(rng: random.Random, docs: list[dict], n: int) -> list[dict]:
    """``n`` phrases cut from random docs (so each has at least one hit),
    their (length, k) cycling through PHRASE_SHAPES."""
    out = []
    while len(out) < n:
        ln, k = PHRASE_SHAPES[len(out) % len(PHRASE_SHAPES)]
        toks = rng.choice(docs)["text"].split()
        if len(toks) < ln:
            continue
        i = rng.randrange(len(toks) - ln + 1)
        out.append({"phrase": toks[i : i + ln], "k": k})
    return out

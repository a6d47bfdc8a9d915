"""The two workloads and the run that drives the engine through them.

Both workloads share one shape, so both report every metric:

    set-up  session -> generate -> build -> [churn: delete_by_query]
            -> open (cached) -> warm-up queries
    timed   a fixed number of rounds of WAND singles and phrase singles,
            each round whole query-shape cycles
    checks  every collected answer against the pure-Python references
    traced  (``--trace 1`` only) batch calls, kernel and stage probes, table
            sizes and an update tail: add_generation -> [serve:
            delete_by_query] -> compact -> reopen -> post-compaction WAND
            burst, checked too.

One client, closed loop: the driver thread sends the next call only after
the previous one returned.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
import traceback
from dataclasses import dataclass
from statistics import median

import gen
import layers
from oracle import Reference, rows_to_ranking, same_ranking
from spans import Tracer
from unichem2index_spark.operators import query as Q
from unichem2index_spark.operators.ingest import build_index_from_webtext
from unichem2index_spark.operators.update import add_generation, compact, delete_by_query
from unichem2index_spark.schemas import WEBTEXT_SCHEMA
from unichem2index_spark.session import get_spark

CORES = 2  # local[2]: steadier than local[4] on a shared 4-core host
N_SHARDS = 2
ROUND = {"wand": 5, "phrase": 4}  # whole query-shape cycles (gen.py): 1 of WAND, 2 of phrase
WARMUP = {"wand": 10, "phrase": 2}  # untimed calls before the timed region, whole cycles
BATCH = {"warmup": 1, "calls": 4, "size": 30}  # traced run: bm25_topk_batch calls
TAIL_WAND = 5  # post-compaction check burst (traced run)
CROSS_CHECK = 3  # churn: WAND queries re-run through bm25_topk_maxscore
PROBE_WAND = 10  # queries replayed through the driver-side kernel probe
WAVE = (60, 30)  # add_generation wave: new urls, re-crawled live urls
DELETE_MOD = 11  # delete_by_query removes live docs with doc_id % 11 == seed % 11


# One corpus for both workloads, so they differ only in the index state.
# Sources of each value: perfbench/README.md, "Corpus".
CORPUS = gen.CorpusParams(
    n_urls=600,  # sized to the time budget
    vocab_size=2000,  # "a few thousand terms"; 2k terms as in the build-time probe
    zipf_s=1.1,  # the engine's fixture generator (synth.gen_webtext)
    doclen_mu=3.3,  # lognormal(3.3, 0.8) in [5, 500]: synth.gen_webtext, FIXTURES.md
    doclen_sigma=0.8,
    doclen_min=5,
    doclen_max=500,
    dup_url_share=0.1,  # chosen, not measured: no documented figure
)


@dataclass(frozen=True)
class Workload:
    churned: bool  # tombstone docs with delete_by_query before serving
    rounds: int  # timed rounds; --seconds only cuts a run short


WORKLOADS = {
    "serve": Workload(churned=False, rounds=6),
    "churn": Workload(churned=True, rounds=4),
}


def input_bytes(rows: list[dict]) -> int:
    """Bytes handed to the engine: url, html, text and lang, UTF-8."""
    return sum(
        len(r["url"].encode()) + len(r["html"]) + len(r["text"].encode()) + len(r["lang"])
        for r in rows
    )


class IndexState:
    """What the index should hold: every doc written and the tombstoned ids."""

    def __init__(self, docs: list[dict]):
        self.docs = list(docs)
        self.dead: set[int] = set()

    def live(self) -> list[dict]:
        return [d for d in self.docs if d["doc_id"] not in self.dead]

    def reference(self, compacted: bool) -> Reference:
        if compacted:
            return Reference(self.live())
        return Reference(self.docs, frozenset(self.dead))


class Run:
    def __init__(self, name: str, seed: int, seconds: int, traced: bool, work: str, t0: float):
        self.name, self.wl = name, WORKLOADS[name]
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.work, self.t0 = work, t0
        self.idx = os.path.join(work, "index")
        self.tr = Tracer(enabled=traced)
        self.samples: dict[str, list[float]] = {"wand": [], "phrase": [], "batch": []}
        self.batch_queries = 0
        self.answers: list[tuple] = []  # (kind, spec, rows or None)
        self.checks: list[tuple[str, bool]] = []  # set-up and tail checks
        self.layer: dict[str, float] = {}
        self.warmup_ops = 0
        self.input_rows: list[dict] = []

    # -- engine calls ----------------------------------------------------
    def _call(self, span: str, fn):
        """One set-up, probe or update call, under its own span."""
        with self.tr.span(span, jobs=True):
            return fn()

    def _query(self, kind: str, request: str, make_df):
        """Author the DataFrame, then collect it; None if the call raised."""
        t = time.perf_counter()
        try:
            with self.tr.span(f"query.{kind}", request=request):
                with self.tr.span(f"query.{kind}.author", request=request, jobs=True):
                    df = make_df()
                with self.tr.span(f"query.{kind}.exec", request=request, jobs=True):
                    rows = df.collect()
        except Exception:  # a failed op counts against the run, it must go on
            traceback.print_exc()
            rows = None
        return rows, time.perf_counter() - t

    def _wand(self, q, h):
        return self._query("wand", f"w{q['query_id']}",
                           lambda: Q.bm25_topk_wand(self.spark, h, q["terms"], q["k"]))

    def _phrase(self, i, p, h):
        return self._query("phrase", f"p{i}",
                           lambda: Q.phrase_topk(self.spark, h, p["phrase"], p["k"]))

    def _batch(self, i, qs, h):
        return self._query("batch", f"b{i}", lambda: Q.bm25_topk_batch(self.spark, h, qs))

    # -- phases ----------------------------------------------------------
    def setup(self) -> None:
        t = time.perf_counter()
        with self.tr.span("session.get_spark"):
            self.spark = get_spark("perfbench", master=f"local[{CORES}]")
        self.layer["session.start_s"] = time.perf_counter() - t
        self.tr.sc = self.spark.sparkContext

        self.src, rows = gen.gen_corpus(self.seed, CORPUS)
        base = gen.live_docs(rows)
        self.base_rows = rows
        self.input_rows = list(rows)
        self.state = IndexState(base)
        wt = self.spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
        t = time.perf_counter()
        res = self._call("build.build_index_from_webtext", lambda: build_index_from_webtext(
            self.spark, wt, self.idx, n_shards=N_SHARDS, positions=True))
        self.build_s = time.perf_counter() - t
        self.n_built = res.n_docs
        self.checks.append(("build.n_docs", res.n_docs == len(base)))
        if self.wl.churned:
            self.delete_wave()
        self.handle = self._call(
            "tables.open", lambda: Q.IndexHandle.open(self.spark, self.idx, cache=True))
        self.plan_queries()
        for q in self.wand_q[: WARMUP["wand"]]:
            self._wand(q, self.handle)
        for i, p in enumerate(self.phrases[: WARMUP["phrase"]]):
            self._phrase(i, p, self.handle)
        self.warmup_ops += WARMUP["wand"] + WARMUP["phrase"]
        self.setup_s = time.perf_counter() - self.t0

    def update_wave(self, wave: int) -> None:
        n_new, n_rep = WAVE
        live = self.state.live()
        ts = gen.BASE_TS + dt.timedelta(days=400 + wave)
        rows = gen.gen_wave(self.src, self.seed, wave, [d["url"] for d in live], n_new, n_rep, ts)
        first = max(d["doc_id"] for d in self.state.docs) + 1
        new = gen.live_docs(rows, first_id=first)
        replaced = {r["url"] for r in rows[n_new:]}
        df = self.spark.createDataFrame(rows, schema=WEBTEXT_SCHEMA)
        res = self._call("update.add_generation", lambda: add_generation(self.spark, self.idx, df))
        self.checks.append(("add_generation.counts",
                            (res.n_new_docs, res.n_replaced) == (len(new), n_rep)))
        self.state.dead |= {d["doc_id"] for d in live if d["url"] in replaced}
        self.state.docs += new
        self.input_rows += rows

    def delete_wave(self) -> None:
        m = DELETE_MOD
        r = self.seed % m
        want = {d["doc_id"] for d in self.state.live() if d["doc_id"] % m == r}
        res = self._call("update.delete_by_query", lambda: delete_by_query(
            self.spark, self.idx, f"doc_id % {m} = {r}"))
        self.checks.append(("delete_by_query.count", res.n_replaced == len(want)))
        self.state.dead |= want

    def plan_queries(self) -> None:
        rng = random.Random(f"{self.seed}/queries")
        live = self.state.live()
        bands = gen.term_bands(live, self.src.vocab)
        rounds = self.wl.rounds
        self.wand_q = gen.gen_wand_queries(rng, bands, WARMUP["wand"] + rounds * ROUND["wand"])
        self.phrases = gen.gen_phrases(rng, live, WARMUP["phrase"] + rounds * ROUND["phrase"])
        self.batch_q = gen.gen_wand_queries(rng, bands, (BATCH["warmup"] + BATCH["calls"]) * BATCH["size"])

    def timed(self) -> None:
        h, w = self.handle, WARMUP
        wand = iter(self.wand_q[w["wand"]:])
        phrases = iter(enumerate(self.phrases[w["phrase"]:], start=w["phrase"]))
        t0 = time.perf_counter()
        self.rounds = 0
        with self.tr.span("timed"):
            while self.rounds < self.wl.rounds and (
                self.rounds == 0 or time.perf_counter() - t0 < self.seconds
            ):
                for q in (next(wand) for _ in range(ROUND["wand"])):
                    rows, s = self._wand(q, h)
                    self.samples["wand"].append(s * 1e3)
                    self.answers.append(("wand", q, rows))
                for i, p in (next(phrases) for _ in range(ROUND["phrase"])):
                    rows, s = self._phrase(i, p, h)
                    self.samples["phrase"].append(s * 1e3)
                    self.answers.append(("phrase", p, rows))
                self.rounds += 1
        self.timed_s = time.perf_counter() - t0
        self.index_bytes = layers.table_bytes(self.idx)
        self.served_input_bytes = input_bytes(self.input_rows)

    # -- correctness -----------------------------------------------------
    def check_answers(self) -> None:
        """Check every timed call's answer; run before the traced tail
        changes the index."""
        ref = self.state.reference(compacted=False)
        failed = 0
        for kind, spec, rows in self.answers:
            if rows is None:
                failed += 1
            elif kind == "wand":
                failed += not same_ranking(rows_to_ranking(rows), ref.topk(spec["terms"], spec["k"]))
            elif kind == "phrase":
                failed += not same_ranking(rows_to_ranking(rows), ref.phrase_topk(spec["phrase"], spec["k"]))
            else:
                got: dict[int, list] = {}
                for r in rows:
                    got.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
                failed += not all(
                    same_ranking(got.get(q["query_id"], []), ref.topk(q["terms"], q["k"]))
                    for q in spec
                )
        self.answers_failed = failed

    def cross_check(self) -> None:
        """churn: pre-compaction WAND must agree exactly with the MaxScore
        kernel on the same handle (tombstones, recomputed bounds)."""
        if not self.wl.churned:
            return
        for q in self.wand_q[: CROSS_CHECK]:
            a = Q.bm25_topk_wand(self.spark, self.handle, q["terms"], q["k"]).collect()
            b = Q.bm25_topk_maxscore(self.spark, self.handle, q["terms"], q["k"]).collect()
            self.checks.append(("wand==maxscore", rows_to_ranking(a) == rows_to_ranking(b)))

    def outcome(self) -> tuple[int, int]:
        """(attempted, failed): timed calls plus set-up and probe checks."""
        failed = self.answers_failed + sum(not ok for _, ok in self.checks)
        return len(self.answers) + len(self.checks), failed

    # -- traced-only probes ------------------------------------------------
    def batches(self) -> None:
        """Warm-up call(s), then timed ``bm25_topk_batch`` calls; answers join
        the checked set."""
        size = BATCH["size"]
        sets = [self.batch_q[b * size : (b + 1) * size] for b in range(BATCH["warmup"] + BATCH["calls"])]
        for b, qs in enumerate(sets[: BATCH["warmup"]]):
            self._batch(b, qs, self.handle)
        self.warmup_ops += BATCH["warmup"]
        with self.tr.span("timed.batch"):
            for b, qs in enumerate(sets[BATCH["warmup"]:], start=BATCH["warmup"]):
                rows, s = self._batch(b, qs, self.handle)
                self.samples["batch"].append(s)
                self.batch_queries += len(qs)
                self.answers.append(("batch", qs, rows))

    def probes(self) -> None:
        sp, h = self.spark, self.handle
        qs = self.wand_q[WARMUP["wand"] : WARMUP["wand"] + PROBE_WAND]
        phrases = self.phrases[WARMUP["phrase"] : WARMUP["phrase"] + self.rounds * ROUND["phrase"]]
        with self.tr.span("probe.kernels"):
            k = layers.kernel_probe(sp, h, qs, phrases)
        self.kernel = k
        ref = self.state.reference(compacted=False)
        for q, top in zip(qs, k["wand_top"]):
            self.checks.append(("kernel_probe.wand", same_ranking(top, ref.topk(q["terms"], q["k"]))))
        self.terms = h.term_stats(sp).count()
        self.blocks = h.segments(sp).count()
        with self.tr.span("probe.stages"):
            self.stages = layers.stage_times(
                sp, sp.createDataFrame(self.base_rows, schema=WEBTEXT_SCHEMA), N_SHARDS, True)

    def update_tail(self) -> None:
        """One add_generation wave (serve: and a delete_by_query), then
        compact, reopen, and check a WAND burst against the reference over
        the live docs."""
        self.handle.close()
        self.update_wave(0)
        if not self.wl.churned:
            self.delete_wave()
        self._call("update.compact", lambda: compact(self.spark, self.idx))
        after = layers.table_bytes(self.idx)
        rewritten = sum(after[t] for t in ("segments", "term_stats", "docs", "url_map"))
        live = self.state.live()
        self.layer["update.bytes_rewritten_per_live_byte"] = rewritten / input_bytes(live)
        h = Q.IndexHandle.open(self.spark, self.idx, cache=True)
        ref = self.state.reference(compacted=True)
        rng = random.Random(f"{self.seed}/tail")
        for q in gen.gen_wand_queries(rng, gen.term_bands(live, self.src.vocab), TAIL_WAND):
            rows, _ = self._wand(q, h)
            self.checks.append(("post_compaction.wand", rows is not None and same_ranking(
                rows_to_ranking(rows), ref.topk(q["terms"], q["k"]))))
        h.close()

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        out = {
            "setup_s": self.setup_s,
            "build_docs_per_s": self.n_built / self.build_s,
            "wand_p50_ms": median(self.samples["wand"]),
            "phrase_p50_ms": median(self.samples["phrase"]),
            "index_bytes_per_input_byte": sum(self.index_bytes.values()) / self.served_input_bytes,
        }
        if self.samples["batch"]:
            out["batch_qps"] = self.batch_queries / sum(self.samples["batch"])
        return out

    def per_layer(self) -> dict[str, float]:
        tr, out = self.tr, dict(self.layer)
        inp = self.served_input_bytes
        out["tables.open_s"] = tr.named("tables.open")[0].dur
        for t in ("segments", "term_stats", "docs", "url_map"):
            out[f"tables.{t}_bytes_per_input_byte"] = self.index_bytes[t] / inp
        out["ingest.extract_dedup_s"] = self.stages["extract_dedup"]
        out["ingest.docs_kept_ratio"] = self.n_built / len(self.base_rows)
        b = tr.named("build.build_index_from_webtext")[0]
        out["build.build_index_s"] = b.dur
        out["build.jobs"] = b.jobs
        for s in ("tokenize", "spimi", "merge"):
            out[f"build.{s}_s"] = self.stages[s]
        out["build.terms"] = self.terms
        out["build.segment_blocks"] = self.blocks
        timed = {s.id for s in tr.named("timed") + tr.named("timed.batch")}
        for kind, unit in (("wand", "query"), ("phrase", "query"), ("batch", "call")):
            calls = [s for s in tr.named(f"query.{kind}") if s.parent in timed]
            ids = {s.id for s in calls}
            auth = [s for s in tr.named(f"query.{kind}.author") if s.parent in ids]
            exe = [s for s in tr.named(f"query.{kind}.exec") if s.parent in ids]
            out[f"query.{kind}_author_ms"] = median([s.dur * 1e3 for s in auth])
            out[f"query.{kind}_exec_ms"] = median([s.dur * 1e3 for s in exe])
            out[f"query.{kind}_jobs_per_{unit}"] = sum(s.jobs for s in auth + exe) / len(calls)
        k = self.kernel
        out["codec.decode_us_per_block"] = k["decode_us_per_block"]
        out["wand.kernel_ms_per_query"] = median(k["wand_ms"])
        out["wand.blocks_decoded_ratio"] = k["blocks_decoded_ratio"]
        out["phrase.kernel_ms_per_query"] = median(k["phrase_ms"])
        out["phrase.postings_decoded"] = median(k["phrase_postings"])
        ups = [tr.named(n)[0] for n in ("update.add_generation", "update.delete_by_query", "update.compact")]
        out["update.add_generation_s"], out["update.delete_by_query_s"], out["update.compact_s"] = (
            s.dur for s in ups)
        out["update.jobs"] = sum(s.jobs for s in ups)
        out["trace.bookkeeping_ms_per_span"] = tr.bookkeeping_s * 1e3 / len(tr.spans)
        return out

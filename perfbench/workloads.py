"""Workload inputs (a pure function of the seed), the two closed loops,
and the ingest cycle the traced run replays.

Each loop is one client in the benchmark's process: it issues a public-API
call, materializes the result with ``collect()``, records it, and only
then issues the next call.  Result rows are kept and checked against
:mod:`perfbench.reference` after the measured window.
"""

from __future__ import annotations

import functools
import shutil
import time
import traceback
from collections import Counter
from dataclasses import dataclass

import numpy as np

from wikitfidf_spark.corpus import _vocab, bench_query_mix, make_code_files_pdf
from wikitfidf_spark.index.query import PhraseQuery, Query
from wikitfidf_spark.tokenize import tokenize_py

N_DOCS = 2000
# above the 2000 queries up to which topk_batch writes each query's k
# into the plan as literals, several Py4J round trips per query whose
# latency tracks the host's CPU steal more than the engine's work does
TOPK_WIDE_BATCH = 5000
TOPK_WIDE_POOL = 2          # distinct wide batches, called in turn
NARROW = 5                  # panels per family batch in families_narrow
NARROW_TOPK = 10
READ_BATCH = 100            # queries per read call in the ingest cycle
HIST_EDGES = (0.0, 100.0, 200.0, 400.0, 10000.0)
MAX_EXPANSIONS = 32
SUGGEST_DIST = 1
MLT_TERMS = 8
K = 10

WORKLOADS = ("topk_wide", "families_narrow")


@dataclass
class Inputs:
    """Everything a run feeds the engine.  The seed itself is not kept:
    the engine only ever sees these generated values."""

    corpus: "object"                 # pandas frame: repo, path, commit, lang, content
    delta: "object"                  # 1% more docs, same shape, disjoint natural keys
    topk_wide: list[list[Query]]
    topk_narrow: list[Query]
    read_batch: list[Query]
    phrases: list[PhraseQuery]
    panels: list[tuple[int, list[str]]]
    wildcards: list[tuple[int, str]]
    suggests: list[tuple[int, str]]
    mlt_rows: list[int]              # corpus row numbers; doc ids resolve after build


def make_inputs(seed: int, n_docs: int = N_DOCS) -> Inputs:
    """Deterministic inputs for ``seed``.  The corpus and the delta come
    from the repo's code-corpus generator (the same rows the Spark
    generator ``corpus.make_code_files`` yields); queries from
    ``corpus.bench_query_mix`` over the corpus's own vocabulary."""
    rng = np.random.RandomState(seed)
    sub = [int(s) for s in rng.randint(0, 2**31 - 1, size=8)]
    corpus = make_code_files_pdf(n_docs, seed)
    # the generator draws the vocabulary with seed + 1; queries use it
    vocab = _vocab(2000, seed + 1)
    hot = vocab[:50]

    def mix(n: int, s: int) -> list[Query]:
        return bench_query_mix(n, seed=s, vocab_seed=seed + 1)

    # a different generator seed gives disjoint natural keys
    delta = make_code_files_pdf(max(1, n_docs // 100), sub[0])
    prng = np.random.RandomState(sub[1])
    phrases = []
    while len(phrases) < NARROW:
        toks = tokenize_py(corpus["content"].iat[int(prng.randint(0, n_docs))])
        if len(toks) >= 2:
            i = int(prng.randint(0, len(toks) - 1))
            phrases.append(PhraseQuery(len(phrases), toks[i:i + 2], K))
    frng = np.random.RandomState(sub[2])
    panels = [
        (i, sorted({hot[int(j)] for j in frng.randint(0, len(hot), size=2)}))
        for i in range(NARROW)
    ]
    wrng = np.random.RandomState(sub[3])
    wildcards = [(i, hot[int(wrng.randint(0, len(hot)))][:4] + "*") for i in range(NARROW)]
    srng = np.random.RandomState(sub[4])
    suggests = []
    for i in range(NARROW):
        t = list(vocab[int(srng.randint(0, 200))])
        t[int(srng.randint(0, len(t)))] = "abcdefghijklmnopqrstuvwxyz"[int(srng.randint(0, 26))]
        suggests.append((i, "".join(t)))
    mlt_rows = sorted({int(r) for r in np.random.RandomState(sub[5]).randint(0, n_docs, size=NARROW)})
    return Inputs(
        corpus=corpus,
        delta=delta,
        topk_wide=[mix(TOPK_WIDE_BATCH, sub[6] + i) for i in range(TOPK_WIDE_POOL)],
        topk_narrow=mix(NARROW_TOPK, sub[7]),
        read_batch=mix(READ_BATCH, sub[7] + 1),
        phrases=phrases,
        panels=panels,
        wildcards=wildcards,
        suggests=suggests,
        mlt_rows=mlt_rows,
    )


@dataclass
class Call:
    label: str          # unique per run; also the Spark job group when traced
    api: str
    n_queries: int
    seconds: float
    tag: str            # "warmup", or the index state of an ingest-cycle read
    rows: Counter | None  # normalized result rows, counted; None if the call raised
    expect: "object"    # zero-arg callable -> reference tuple set


class Client:
    """Issues calls, times them, keeps their rows for the check.
    ``timeline`` holds the calls in order, interleaved with reference
    updates (ingest steps), so the check replays the same history after
    the window.  ``tracer`` (optional) labels every Spark job of a call
    with its call id and records the call's span."""

    def __init__(self, tracer=None, prefix: str = "c") -> None:
        self.timeline: list = []
        self.tracer = tracer
        self.prefix = prefix

    @property
    def calls(self) -> list[Call]:
        return [c for c in self.timeline if isinstance(c, Call)]

    def call(self, api: str, n_queries: int, run, expect, tag: str = "") -> Call:
        from .reference import normalize

        label = f"{self.prefix}{len(self.timeline)}:{api}"
        if self.tracer is not None:
            self.tracer.begin_call(label)
        t0 = time.perf_counter()
        try:
            raw = run().collect()
        except Exception:  # a failing call is counted, not fatal
            traceback.print_exc()
            raw = None
        t1 = time.perf_counter()
        rows = None if raw is None else normalize(api, raw)
        if self.tracer is not None:
            self.tracer.end_call(label, t0, t1)
        c = Call(label, api, n_queries, t1 - t0, tag, rows, expect)
        self.timeline.append(c)
        return c

    def check(self) -> int:
        """Replay the timeline against the reference; returns the number
        of calls that raised or whose rows differ from it (a row the
        engine returned twice counts as a difference)."""
        failed = 0
        for item in self.timeline:
            if isinstance(item, Call):
                failed += item.rows is None or item.rows != Counter(item.expect())
            else:
                item()
        return failed


def family_calls(idx, ref, inp: Inputs, mlt_ids: list[int]) -> list[tuple]:
    """(api, n_queries, run, expect) for one round of families_narrow."""
    panels = inp.panels
    return [
        ("phrase_topk_batch", len(inp.phrases),
         lambda: idx.phrase_topk_batch(inp.phrases),
         lambda: ref.phrase_topk_batch(inp.phrases)),
        ("facet_counts_batch", len(panels),
         lambda: idx.facet_counts_batch(panels, facet="topic"),
         lambda: ref.facet_counts_batch(panels)),
        ("facet_histogram_batch", len(panels),
         lambda: idx.facet_histogram_batch(panels, "doc_len", HIST_EDGES),
         lambda: ref.facet_histogram_batch(panels, HIST_EDGES)),
        ("facet_stats_batch", len(panels),
         lambda: idx.facet_stats_batch(panels, "doc_len"),
         lambda: ref.facet_stats_batch(panels)),
        ("collapse_topk_batch", len(panels),
         lambda: idx.collapse_topk_batch(panels, field="topic", k=K),
         lambda: ref.collapse_topk_batch(panels, K)),
        ("wildcard_topk_batch", len(inp.wildcards),
         lambda: idx.wildcard_topk_batch(inp.wildcards, k=K, max_expansions=MAX_EXPANSIONS),
         lambda: ref.wildcard_topk_batch(inp.wildcards, K, MAX_EXPANSIONS)),
        ("suggest_batch", len(inp.suggests),
         lambda: idx.suggest_batch(inp.suggests, max_dist=SUGGEST_DIST, n=K),
         lambda: ref.suggest_batch(inp.suggests, SUGGEST_DIST, K)),
        ("more_like_this_batch", len(mlt_ids),
         lambda: idx.more_like_this_batch(mlt_ids, m=MLT_TERMS, k=K),
         lambda: ref.more_like_this_batch(mlt_ids, MLT_TERMS, K)),
        ("topk_batch", len(inp.topk_narrow),
         lambda: idx.topk_batch(inp.topk_narrow),
         lambda: ref.topk_batch(inp.topk_narrow)),
    ]


def fits(t0: float, done: int, seconds: float) -> bool:
    """Whether one more unit (call or round) fits the window at the pace
    of those done so far; the first always runs.  The window thus holds
    whole units and ends near ``seconds``, not up to a unit past it."""
    return done == 0 or (time.perf_counter() - t0) * (done + 1) / done <= seconds


def run_topk_wide(client: Client, idx, ref, inp: Inputs, seconds: float,
                  warmup: bool = True) -> float:
    """Back-to-back wide ``topk_batch`` calls, after one warm-up call
    unless the session already made it; returns the window."""
    expects = [functools.cache(lambda b=b: ref.topk_batch(b)) for b in inp.topk_wide]
    if warmup:  # the first call runs slow; the batches share its plan shape
        client.call("topk_batch", len(inp.topk_wide[0]),
                    lambda: idx.topk_batch(inp.topk_wide[0]), expects[0], tag="warmup")
    t0 = time.perf_counter()
    i = 0
    while fits(t0, i, seconds):
        b = i % len(inp.topk_wide)
        client.call("topk_batch", len(inp.topk_wide[b]),
                    lambda b=b: idx.topk_batch(inp.topk_wide[b]), expects[b])
        i += 1
    return time.perf_counter() - t0


def run_families_narrow(client: Client, idx, ref, inp: Inputs, mlt_ids, seconds: float,
                        warmup: bool = True) -> float:
    """Whole round-robin rounds over the small family batches, after
    one warm-up round unless the session already made it; returns the
    window."""
    calls = [(api, n, run, functools.cache(exp)) for api, n, run, exp in family_calls(idx, ref, inp, mlt_ids)]
    for api, n, run, exp in calls if warmup else ():  # each API's first call runs slow
        client.call(api, n, run, exp, tag="warmup")
    t0 = time.perf_counter()
    rounds = 0
    while fits(t0, rounds, seconds):
        for api, n, run, exp in calls:
            client.call(api, n, run, exp)
        rounds += 1
    return time.perf_counter() - t0


@dataclass
class IngestStep:
    op: str
    seconds: float
    docs: int = 0
    encode_s: float = 0.0   # add only: the manifest's delta encode phase


def ingest_cycle(client: Client, spark, ref, inp: Inputs, base_dir: str,
                 work_dir: str) -> tuple[list[IngestStep], int]:
    """One lifecycle cycle on a fresh copy of the set-up index: deferred
    add of the 1% delta -> read -> refresh -> read -> compact -> read.
    Returns the timed steps and the tokens ingested."""
    from wikitfidf_spark.index.build import add_documents, compact, load_manifest, refresh_scores
    from wikitfidf_spark.index.query import InvertedIndex

    shutil.rmtree(work_dir, ignore_errors=True)
    shutil.copytree(base_dir, work_dir)
    steps: list[IngestStep] = []
    batch, delta = inp.read_batch, inp.delta

    def step(op: str, fn, docs: int = 0):
        t = time.perf_counter()
        with client.tracer.span(f"{client.prefix}{len(steps)}:{op}", f"ingest.{op}"):
            out = fn()
        steps.append(IngestStep(op, time.perf_counter() - t, docs))
        return out

    def read(tag: str) -> None:
        idx = step("reopen", lambda: InvertedIndex(spark, work_dir))
        client.call("topk_batch", len(batch), lambda: idx.topk_batch(batch),
                    lambda: ref.topk_batch(batch), tag=tag)

    before = load_manifest(work_dir)["phases"]
    step("add", lambda: add_documents(spark, spark.createDataFrame(delta), work_dir,
                                      refresh_scores=False), docs=len(delta))
    steps[-1].encode_s = next(
        p["delta_encode_wall_sec"] for k, p in load_manifest(work_dir)["phases"].items()
        if k.startswith("delta_g") and before.get(k) != p
    )
    client.timeline.append(lambda: ref.add(ref_rows(delta, doc_ids(spark, work_dir))))
    read("stale")
    step("refresh", lambda: refresh_scores(spark, work_dir))
    client.timeline.append(ref.refresh)
    read("fresh")
    step("compact", lambda: compact(spark, work_dir))
    read("compacted")
    return steps, token_count(delta)


def token_count(pdf) -> int:
    """Tokens the index stores for these docs (the reference tokenizer)."""
    return sum(len(tokenize_py(t)) for t in pdf["content"])


def ref_rows(pdf, ids: dict) -> list[tuple[int, str, str]]:
    """(doc_id, topic, content) rows of ``pdf`` for :class:`Reference`."""
    keys = zip(pdf["repo"], pdf["path"], pdf["commit"])
    return list(zip((ids[k] for k in keys), pdf["lang"], pdf["content"]))


def doc_ids(spark, index_dir: str) -> dict:
    """Natural key -> engine doc id, read from the index's docmeta
    (outside any timed region)."""
    from wikitfidf_spark.index.query import InvertedIndex

    return {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in InvertedIndex(spark, index_dir).docmeta
        .select("repo", "path", "commit", "doc_id").collect()
    }

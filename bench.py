"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric", "value" (total sec), "unit", "queries", "sf", ...}.

Beyond the sf-dir queries it measures the engine's north-rule metrics on
a deterministic synthetic code corpus (FIXTURES.md F1 bench scale):
index-build wall time (+ postings/sec, skew ratio) and batched BM25
top-k throughput (queries/sec).  Scaling-efficiency
evidence (same job at two parallelism levels) lives in bench_scaling.py
→ BENCH.md.

Measurement methodology (round-4, noise-robust): headline queries run
in TWO interleaved passes (median reported, both passes recorded);
batch top-k runs a discarded warm-up then two 4-rep runs with cache
perturbation between reps and a run-to-run stability ratio in the
output — same-code spreads up to 2x were measured on this shared host,
so single-shot / best-of-N numbers are unattributable.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def log(*a):  # keep stdout clean for the one JSON line
    print(*a, file=sys.stderr, flush=True)


def make_queries(n: int = 100) -> list:
    from wikitfidf_spark.corpus import bench_query_mix

    return bench_query_mix(n)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if cpus in ("*", ""):  # session.get_spark documents local[*] for this var
        cpus = str(os.cpu_count())
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "") or "0.1"

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from wikitfidf_spark.session import get_spark
    from wikitfidf_spark.corpus import make_code_files
    from wikitfidf_spark.index.build import IndexConfig, build_index
    from wikitfidf_spark.index.query import InvertedIndex
    import __spark_entry__ as entry

    spark = get_spark(app_name="bench", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))

    timings: dict[str, float] = {}
    extras: dict = {}
    rep_log: dict[str, list[float]] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        log(f"{name}: {timings[name]}s")
        return out

    # ---- sf-dir headline queries, measured noise-robustly: TWO full
    # interleaved passes over the set (reps of one query are separated
    # by every other query, so a monotone JVM/cache warm-up ramp can't
    # masquerade as a per-query number), per-query value = median of
    # the passes, both raw passes recorded.  Same-code spreads of up to
    # 2x were measured on this host (BENCH.md) — single-shot timings
    # are unattributable.
    HEADLINE = [
        "term_frequency", "global_term_stats", "tfidf_topn_per_doc",
        "bm25_or_topk", "bm25_and_topk", "minhash_candidates",
        "ann_cosine_topk", "token_counts", "events_windowed",
        "sessionize", "lineitem_pricing", "broadcast_join_agg",
        "decontaminate",  # round-5 second session: n-gram eval-overlap filter
    ]
    qmap = entry._all_queries()  # headline set spans checked + folded entries
    # pass 0 is a DISCARDED warm-up (first-touch costs dominate it:
    # JIT, parquet footers, codegen compile — measured 2-14x the steady
    # numbers); passes 1..N are measured and recorded
    # floor of 1 measured pass: pass 0 is always the discarded warm-up
    HEADLINE_PASSES = 1 + max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    for p in range(HEADLINE_PASSES):
        for name in HEADLINE:
            t0 = time.time()
            qmap[name](spark, sf_dir).count()
            dt = time.time() - t0
            if p == 0:
                log(f"{name} [warm-up, discarded]: {dt:.3f}s")
                continue
            rep_log.setdefault(name, []).append(round(dt, 3))
            log(f"{name} [pass {p}/{HEADLINE_PASSES - 1}]: {dt:.3f}s")
    import statistics as _st

    for name in HEADLINE:
        timings[name] = round(_st.median(rep_log[name]), 3)

    # ---- north-rule metrics: index build + top-k q/s on the bench corpus
    idx_dir = f"/tmp/wikitfidf_bench_idx_{n_docs}"
    shutil.rmtree(idx_dir, ignore_errors=True)
    corpus = make_code_files(spark, n_docs=n_docs, seed=42).cache()
    timed("bench_corpus_gen", corpus.count)  # count() materializes the cache
    cfg = IndexConfig(n_shards=int(cpus), n_salts=8)
    res = timed("index_build", lambda: build_index(spark, corpus, idx_dir, cfg, resume=False))
    extras["build"] = {
        k: (round(v, 3) if isinstance(v, float) else v)
        for k, v in res.metrics.items()
        if k in ("n_postings", "payload_bytes", "postings_per_sec",
                 "structure_postings_per_sec", "skew_ratio",
                 "total_docs", "total_tokens", "build_wall_sec_total")
    }

    # ---- incremental add: 1% new docs into the freshly built index,
    # measured as the bounded-staleness pipeline (what steady-state
    # ingest runs): the deferred delta pays only the O(delta) encode +
    # epoch-stale delta scores; the index-wide exact score map is a
    # separate refresh step amortized over K deltas in production.
    # index_add_1pct (= delta + refresh) stays the round-comparable
    # total: the end state is identical to an exact-mode add.
    from wikitfidf_spark.index.build import (
        add_documents, compact, load_manifest, refresh_scores,
    )

    # a different seed yields disjoint natural keys (commit embeds the
    # seed) -> clean delta with no doc_id collisions
    delta = make_code_files(spark, n_docs=max(1, n_docs // 100), seed=43)
    timed(
        "index_add_1pct_deferred",
        lambda: add_documents(spark, delta, idx_dir, refresh_scores=False),
    )
    ref_res = timed("index_add_refresh", lambda: refresh_scores(spark, idx_dir))
    timings["index_add_1pct"] = round(
        timings["index_add_1pct_deferred"] + timings["index_add_refresh"], 3
    )
    ph = load_manifest(idx_dir)["phases"].get("delta_g1_stale", {})
    extras["incremental_add"] = {
        "n_new_docs": int(ref_res.metrics["total_docs"]) - n_docs,
        "existing_shards_reencoded": ph.get("existing_shards_reencoded"),
        "new_shards": ph.get("new_shards"),
        "deferred_add_sec_vs_build_sec": round(
            timings["index_add_1pct_deferred"] / timings["index_build"], 3
        ),
        "add_sec_vs_build_sec": round(
            timings["index_add_1pct"] / timings["index_build"], 3
        ),
        "delta_encode_sec": round(ph.get("delta_encode_wall_sec", 0.0), 3),
        "delta_scores_sec": round(ph.get("delta_scores_wall_sec", 0.0), 3),
    }

    # ---- compaction (round-5): fold the add's generation back into one
    # live tf + re-encoded shards — the maintenance op ingest loops pay
    # once per K deltas (maybe_compact).  End state is byte-identical to
    # a fresh build over corpus+delta (test-asserted), so everything
    # downstream (top-k, mixed families) serves the compacted index.
    cres = timed("index_compact", lambda: compact(spark, idx_dir))
    extras["compact"] = {
        "sec_vs_build_sec": round(
            timings["index_compact"] / timings["index_build"], 3
        ),
        "postings_per_sec": round(
            float(cres.metrics.get("postings_per_sec", 0.0)), 1
        ),
    }

    # ---- batched top-k throughput, noise-robust (round-3 methodology
    # fix): the old best-of-3 back-to-back reps in one warm JVM measured
    # a monotone warm-up ramp (r3 reps [23.9, 34.4, 44.4] q/s), i.e.
    # cache state, not the engine.  Now: one DISCARDED warm-up rep, then
    # two runs of 4 measured reps each with a perturbing query between
    # reps (a different 20-query mix — decorrelates shard/footer cache
    # state), separated by an unrelated heavy query.  Reported number =
    # median of all 8 measured reps; both run medians + the full rep
    # list + the run-to-run stability ratio are recorded so a regression
    # is attributable (stability ~1.0 = trustworthy, >1.2 = noisy host).
    idx = InvertedIndex(spark, idx_dir)
    queries = make_queries(100)
    perturb = make_queries(140)[120:]  # 20 queries disjoint in position
    t0 = time.time()
    n_rows = idx.topk_batch(queries).count()
    log(f"batch_topk_100q warm-up (discarded): {time.time() - t0:.3f}s")

    def topk_run(tag: str, n_reps: int = 4) -> list[float]:
        reps = []
        for i in range(n_reps):
            idx.topk_batch(perturb).count()  # perturb cache state between reps
            t0 = time.time()
            idx.topk_batch(queries).count()
            reps.append(time.time() - t0)
            log(f"batch_topk_100q [{tag} rep {i + 1}/{n_reps}]: {reps[-1]:.3f}s")
        return reps

    reps1 = topk_run("run1")
    # separate the two runs with unrelated heavy work so run2 does not
    # inherit run1's exact cache state
    qmap["term_frequency"](spark, sf_dir).count()
    reps2 = topk_run("run2")
    all_reps = reps1 + reps2
    med1, med2 = _st.median(reps1), _st.median(reps2)
    timings["batch_topk_100q"] = round(_st.median(all_reps), 3)
    qps = len(queries) / timings["batch_topk_100q"]
    extras["topk_qps"] = round(qps, 2)
    extras["topk_qps_reps"] = [round(len(queries) / t, 1) for t in all_reps]
    extras["topk_run_medians_sec"] = [round(med1, 3), round(med2, 3)]
    extras["topk_run_stability"] = round(max(med1, med2) / min(med1, med2), 3)
    extras["topk_result_rows"] = n_rows
    log(
        f"batched top-k throughput: {qps:.1f} q/s (median of {len(all_reps)} reps; "
        f"run medians {med1:.2f}s/{med2:.2f}s, stability {extras['topk_run_stability']})"
    )

    # ---- batch-size amortization evidence: the 100-query number is
    # dominated by per-batch fixed cost (2 Spark stages of task-launch
    # overhead); production serving batches wider.  One warm + 2
    # measured reps at 1000 queries shows the amortized rate the 480k
    # harness (4000-query batches) reaches.
    big = make_queries(1000)
    idx.topk_batch(big[:40]).count()
    big_reps = []
    for _ in range(2):
        t0 = time.time()
        idx.topk_batch(big).count()
        big_reps.append(time.time() - t0)
    timings["batch_topk_1000q"] = round(_st.median(big_reps), 3)
    extras["topk_qps_1000q"] = round(1000 / timings["batch_topk_1000q"], 2)
    log(
        f"batch_topk_1000q: {timings['batch_topk_1000q']}s "
        f"({extras['topk_qps_1000q']} q/s amortized)"
    )

    # ---- mixed serving workload (round-4 ask #4): 100 queries over 5
    # families — batched top-k, phrase, facets, dictionary suggest,
    # more-like-this — so serving regressions outside plain top-k
    # are visible, with the same warm-up/median/stability protocol.
    # Counts: 60 batched top-k + 10 each of the other four.  Every
    # family runs through its batch API (phrase_topk_batch /
    # facet_counts_batch / more_like_this_batch / prefix_terms_batch /
    # suggest_batch): one or two Spark jobs per family per pass — the
    # serving shape.
    from wikitfidf_spark.index.positions import build_positions
    from wikitfidf_spark.index.query import PhraseQuery
    from wikitfidf_spark.tokenize import tokenize_py

    full_corpus = corpus.unionByName(delta)
    timed("positions_build", lambda: build_positions(spark, full_corpus, idx_dir))
    idx = InvertedIndex(spark, idx_dir)  # re-open: manifest gained positions

    sample_txt = corpus.orderBy("repo", "path", "commit").limit(1).collect()[0]["content"]
    toks = tokenize_py(sample_txt)
    # 10 real bigrams; wrap the stride if the sample doc is short so a
    # small SPARK_GRAFT_BENCH_DOCS corpus can't produce <2-term slices
    # (phrase_topk_batch raises on those)
    if len(toks) < 2:
        raise RuntimeError("bench sample doc tokenized to <2 tokens")
    phrases = [
        [toks[j % (len(toks) - 1)], toks[j % (len(toks) - 1) + 1]]
        for j in range(0, 50, 5)
    ]
    from wikitfidf_spark.corpus import _vocab
    hot = _vocab(2000, 43)[:10]
    mlt_ids = [r["doc_id"] for r in
               idx.docmeta.select("doc_id").orderBy("doc_id").limit(10).collect()]
    topk_qs = make_queries(60)

    def mixed_pass() -> dict[str, float]:
        fam: dict[str, float] = {}
        t0 = time.time()
        idx.topk_batch(topk_qs).count()
        fam["topk60"] = time.time() - t0
        t0 = time.time()
        idx.phrase_topk_batch(
            [PhraseQuery(i, p, 10) for i, p in enumerate(phrases)]
        ).count()
        fam["phrase10"] = time.time() - t0
        t0 = time.time()
        idx.facet_counts_batch(
            [(i, [t]) for i, t in enumerate(hot)], facet="topic"
        ).count()
        fam["facet10"] = time.time() - t0
        t0 = time.time()
        idx.prefix_terms_batch(
            [(i, t[:3]) for i, t in enumerate(hot[:5])], n=10
        ).count()
        idx.suggest_batch(
            [(i, t) for i, t in enumerate(hot[5:])], max_dist=1, n=10
        ).count()
        fam["suggest10"] = time.time() - t0
        t0 = time.time()
        idx.more_like_this_batch(mlt_ids, m=8, k=10).count()
        fam["mlt10"] = time.time() - t0
        return fam

    warm = mixed_pass()
    log(f"mixed_100q warm-up (discarded): { {k: round(v, 2) for k, v in warm.items()} }")
    pass1, pass2 = mixed_pass(), mixed_pass()
    fam_med = {k: round(_st.median([pass1[k], pass2[k]]), 3) for k in pass1}
    timings["mixed_100q"] = round(sum(fam_med.values()), 3)
    tot1, tot2 = sum(pass1.values()), sum(pass2.values())
    extras["mixed"] = {
        "families_sec": fam_med,
        "families_qps": {
            k: round((60 if k == "topk60" else 10) / v, 1) for k, v in fam_med.items()
        },
        "qps": round(100 / timings["mixed_100q"], 2),
        "pass_totals_sec": [round(tot1, 3), round(tot2, 3)],
        "stability": round(max(tot1, tot2) / min(tot1, tot2), 3),
    }
    log(f"mixed_100q: {timings['mixed_100q']}s ({extras['mixed']['qps']} q/s; "
        f"per-family {extras['mixed']['families_qps']}; "
        f"stability {extras['mixed']['stability']})")

    # ---- round-5-final panel families: wildcard multi-term rewrite,
    # minimum-should-match, field collapse, range histogram, explain —
    # 100 logical queries, same warm-up/median/stability protocol, so
    # the new serving surface has recorded q/s from its first round.
    from wikitfidf_spark.index.query import Query as _Q

    wild_panels = [(i, t[:3] + "*") for i, t in enumerate(hot[:5])] + [
        (5 + i, t[:4] + "?*") for i, t in enumerate(hot[5:10])
    ]
    wild_panels = [(qid, p) for qid, p in wild_panels][:25]
    # widen to 25 distinct panels by varying prefix lengths
    more = [(10 + i, _vocab(2000, 47)[i][:3] + "*") for i in range(15)]
    wild_panels = wild_panels[:10] + more
    msm_vocab = _vocab(2000, 53)
    msm_qs = [
        _Q(i, [msm_vocab[(3 * i) % 400], msm_vocab[(3 * i + 1) % 400],
               msm_vocab[(3 * i + 2) % 400]], "OR", 10, min_should_match=2)
        for i in range(60)
    ]
    top_doc_ids = [r["doc_id"] for r in idx.topk(hot[:3], k=5).collect()]

    def panels_pass() -> dict[str, float]:
        fam: dict[str, float] = {}
        t0 = time.time()
        idx.wildcard_topk_batch(wild_panels, k=10).count()
        fam["wildcard25"] = time.time() - t0
        t0 = time.time()
        idx.topk_batch(msm_qs).count()
        fam["msm60"] = time.time() - t0
        t0 = time.time()
        idx.collapse_topk_batch(
            [(i, [t]) for i, t in enumerate(hot[:5])], field="topic", k=10
        ).count()
        fam["collapse5"] = time.time() - t0
        t0 = time.time()
        idx.facet_histogram_batch(
            [(i, [t]) for i, t in enumerate(hot[5:10])],
            "doc_len", (0.0, 100.0, 200.0, 400.0, 10000.0),
        ).count()
        fam["hist5"] = time.time() - t0
        t0 = time.time()
        idx.explain(hot[:3], top_doc_ids).count()
        fam["explain5"] = time.time() - t0
        return fam

    warm_p = panels_pass()
    log(f"panels_100q warm-up (discarded): { {k: round(v, 2) for k, v in warm_p.items()} }")
    p1, p2 = panels_pass(), panels_pass()
    pan_med = {k: round(_st.median([p1[k], p2[k]]), 3) for k in p1}
    timings["panels_100q"] = round(sum(pan_med.values()), 3)
    pt1, pt2 = sum(p1.values()), sum(p2.values())
    extras["panels"] = {
        "families_sec": pan_med,
        "families_qps": {
            k: round(int("".join(c for c in k if c.isdigit())) / v, 1)
            for k, v in pan_med.items()
        },
        "qps": round(100 / timings["panels_100q"], 2),
        "pass_totals_sec": [round(pt1, 3), round(pt2, 3)],
        "stability": round(max(pt1, pt2) / min(pt1, pt2), 3),
    }
    log(f"panels_100q: {timings['panels_100q']}s ({extras['panels']['qps']} q/s; "
        f"per-family {extras['panels']['families_qps']}; "
        f"stability {extras['panels']['stability']})")

    # index_add_1pct is the SUM of its two timed components (deferred +
    # refresh), kept in the queries dict for round-over-round compare —
    # exclude it from the total or the add wall counts twice
    total = round(sum(timings.values()) - timings["index_add_1pct"], 3)
    print(json.dumps({
        "metric": "headline_queries_plus_index_build_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "bench_corpus_docs": n_docs,
        "headline_passes": {k: v for k, v in rep_log.items()},
        **extras,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

"""Golden end-to-end: synthetic corpus → index build → engine/relational
queries vs a transparent pure-Python BM25 oracle (SURVEY.md §5 c/d/e/f):
rank-identity, degenerate TF-IDF mode, sha256 invariance, resume."""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from wikitfidf_spark.index.build import IndexConfig, build_index, load_manifest
from wikitfidf_spark.index.query import InvertedIndex, Query
from wikitfidf_spark.operators.scoring import bm25_quantized_py, tfidf_py
from wikitfidf_spark.tokenize import tokenize_py

IDX_DIR = "/tmp/wikitfidf_test_idx"


@pytest.fixture(scope="module")
def built(spark, corpus):
    shutil.rmtree(IDX_DIR, ignore_errors=True)
    cfg = IndexConfig(n_shards=4, n_salts=4)
    res = build_index(spark, corpus, IDX_DIR, cfg)
    return res


@pytest.fixture(scope="module")
def oracle(spark, corpus):
    rows = corpus.withColumn("doc_id", F.xxhash64("repo", "path", "commit")).select(
        "doc_id", "content"
    ).collect()
    tfs = {r["doc_id"]: Counter(tokenize_py(r["content"])) for r in rows}
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n
    dfc = Counter()
    for c in tfs.values():
        dfc.update(c.keys())
    return tfs, dls, dfc, n, avgdl


def _oracle_topk(oracle, terms, k, mode):
    tfs, dls, dfc, n, avgdl = oracle
    out = {}
    uniq = set(terms)
    for d, c in tfs.items():
        present = [t for t in uniq if t in c]
        if not present or (mode == "AND" and len(present) < len(uniq)):
            continue
        out[d] = sum(bm25_quantized_py(c[t], dls[d], dfc[t], n, avgdl) for t in present)
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


QUERIES = [
    Query(1, ["get_set"], "OR", 10),
    Query(2, ["rare_conjunct_alpha", "rare_conjunct_beta"], "AND", 10),
    Query(3, ["rare_conjunct_alpha", "todo_hack"], "OR", 25),
    Query(4, ["absent_term_xyz"], "OR", 5),
]


def test_build_metrics(built):
    m = built.metrics
    assert m["total_docs"] == 300
    assert m["n_postings"] > 0 and m["payload_bytes"] > 0
    assert m["skew_ratio"] > 1.0  # Zipfian vocabulary must show skew
    assert m["postings_per_sec"] > 0


def test_wand_rank_identity(spark, built, oracle):
    idx = InvertedIndex(spark, IDX_DIR)
    # add hot-head queries from the actual corpus
    _, _, dfc, _, _ = oracle
    hot = sorted(dfc, key=lambda t: (-dfc[t], t))[:3]
    rare = sorted(dfc, key=lambda t: (dfc[t], t))[0]
    qs = QUERIES + [Query(5, hot, "OR", 10), Query(6, [hot[0], rare], "AND", 10)]
    got = idx.topk_batch(qs).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score_q"]))
    for q in qs:
        assert by_q.get(q.query_id, []) == _oracle_topk(oracle, q.terms, q.k, q.mode), q


def test_single_topk_equals_oracle(spark, built, oracle):
    """The single-query ``topk`` (a one-query ``topk_batch``) ranks
    exactly like the pure-Python BM25 oracle."""
    idx = InvertedIndex(spark, IDX_DIR)
    for q in QUERIES[:3]:
        engine = [(r["doc_id"], r["score_q"]) for r in idx.topk(q.terms, q.k, q.mode).orderBy("rank").collect()]
        assert engine == _oracle_topk(oracle, q.terms, q.k, q.mode), q


def _langs(corpus):
    return {
        r["doc_id"]: r["lang"]
        for r in corpus.withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .select("doc_id", "lang").collect()
    }


def _oracle_filtered_topk(oracle, langs, lang, terms, k, mode):
    """``_oracle_topk`` over the docs of one ``lang`` only, with the
    corpus-wide statistics: a filter restricts candidates, never a
    survivor's score."""
    tfs, dls, dfc, n, avgdl = oracle
    kept = {d: c for d, c in tfs.items() if langs[d] == lang}
    return _oracle_topk((kept, dls, dfc, n, avgdl), terms, k, mode)


def test_filtered_topk_global_scores_restricted_candidates(spark, built, corpus, oracle):
    """topk_batch(predicate=) must rank ONLY docs passing the docmeta
    predicate while keeping GLOBAL BM25 stats (idf/avgdl from the whole
    corpus) — filtering restricts candidates, never changes a
    survivor's score."""
    _, _, dfc, _, _ = oracle
    langs = _langs(corpus)
    idx = InvertedIndex(spark, IDX_DIR)
    term = max(dfc, key=lambda t: (dfc[t], t))  # hottest term: hits every lang
    got = [
        (r["doc_id"], r["score_q"]) for r in
        idx.topk_batch([Query(0, [term], "OR", 10)], predicate="topic = 'python'")
        .orderBy("rank").collect()
    ]
    assert got == _oracle_filtered_topk(oracle, langs, "python", [term], 10, "OR")
    assert len(got) > 0 and all(langs[d] == "python" for d, _ in got)


def test_filtered_topk_batch_equals_oracle(spark, built, corpus, oracle):
    """The cogrouped filtered kernel (allowed ids co-shuffled by shard,
    vectorized np.isin mask) ranks every query of a batch like the
    pure-Python oracle restricted to the predicate's docs, in both
    modes."""
    idx = InvertedIndex(spark, IDX_DIR)
    _, _, dfc, _, _ = oracle
    langs = _langs(corpus)
    hot = sorted(dfc, key=lambda t: (-dfc[t], t))[:2]
    pred = "topic = 'go'"
    qs = [Query(0, hot, "OR", 10), Query(1, [hot[0]], "AND", 5),
          Query(2, hot, "AND", 10)]
    taat = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_q"])
        for r in idx.topk_batch(qs, predicate=pred).collect()
    )
    want = sorted(
        (q.query_id, rank, d, s)
        for q in qs
        for rank, (d, s) in enumerate(
            _oracle_filtered_topk(oracle, langs, "go", q.terms, q.k, q.mode), 1
        )
    )
    assert taat == want and len(taat) > 0
    # an unsatisfiable predicate must yield empty, not error
    assert idx.topk_batch(qs[:1], predicate="topic = 'nope'").count() == 0


def test_degenerate_tfidf_mode(spark, built, oracle):
    """north_star: single-term query reproduces reference TF-IDF ranks."""
    tfs, dls, dfc, n, _ = oracle
    idx = InvertedIndex(spark, IDX_DIR)
    term = "todo_hack"
    got = {
        (r["doc_id"]): r["tfidf"]
        for r in idx.tfidf_scores([term]).collect()
    }
    exp = {
        d: tfidf_py(c[term], dls[d], dfc[term], n)
        for d, c in tfs.items()
        if term in c
    }
    assert got == exp


def test_sha256_invariance(spark, built, corpus):
    """BASELINE.json:input_hint: content sha256 preserved end-to-end."""
    import hashlib

    idx = InvertedIndex(spark, IDX_DIR)
    meta = {r["doc_id"]: r["content_sha256"] for r in idx.docmeta.collect()}
    src = corpus.withColumn("doc_id", F.xxhash64("repo", "path", "commit")).collect()
    for r in src:
        assert meta[r["doc_id"]] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_fused_scores_byte_identical_to_refresh_pass(spark, built):
    """A fresh build fuses the score stream into the structure encode
    (one pass); incremental updates re-map scores with
    score_postings_df.  The two writers MUST be bit-identical over the
    same structure + global stats — that is what lets the index never
    care which one produced its score file."""
    from wikitfidf_spark.index.build import (
        _read_scores, _read_structure, index_paths, load_manifest,
        score_postings_df, _load_cfg,
    )

    m = load_manifest(IDX_DIR)
    assert m["phases"]["structure"].get("fused_scores") is True
    p = index_paths(m)
    cfg = _load_cfg(m, IDX_DIR)
    structure = _read_structure(spark, IDX_DIR, p)
    stats = spark.read.parquet(os.path.join(IDX_DIR, p["dictionary"]))
    remapped = score_postings_df(
        structure, stats, cfg,
        int(m["metrics"]["total_docs"]), float(m["metrics"]["avgdl"]),
    )
    def rows(df):
        return sorted(
            (r["shard"], r["term"], r["sub_shard"], bytes(r["scores_payload"]),
             tuple(r["block_max_score"]))
            for r in df.collect()
        )
    assert rows(_read_scores(spark, IDX_DIR, p)) == rows(remapped)


def test_doc_id_no_collisions(spark, corpus):
    n = corpus.count()
    assert corpus.select(F.xxhash64("repo", "path", "commit")).distinct().count() == n


def test_resume_after_partial_build(spark, corpus):
    """Kill after phase 2, rerun, identical final index (SURVEY §5 f)."""
    d2 = "/tmp/wikitfidf_test_idx_resume"
    shutil.rmtree(d2, ignore_errors=True)
    cfg = IndexConfig(n_shards=4, n_salts=4)
    build_index(spark, corpus, d2, cfg)
    full = load_manifest(d2)
    # simulate a crash: drop the structure + dictionary phases
    shutil.rmtree(os.path.join(d2, "structure_g0.parquet"))
    m = load_manifest(d2)
    del m["phases"]["structure"], m["phases"]["dictionary"]
    with open(os.path.join(d2, "manifest.json"), "w") as f:
        json.dump(m, f)
    res = build_index(spark, corpus, d2, cfg)  # resume
    m2 = load_manifest(d2)
    assert m2["phases"].keys() == full["phases"].keys()
    assert res.metrics["n_postings"] == full["metrics"]["n_postings"]
    assert res.metrics["payload_bytes"] == full["metrics"]["payload_bytes"]
    # resumed index answers identically
    idx = InvertedIndex(spark, d2)
    idx0 = InvertedIndex(spark, IDX_DIR)
    a = [(r["doc_id"], r["score_q"]) for r in idx.topk(["get_set"], 10).collect()]
    b = [(r["doc_id"], r["score_q"]) for r in idx0.topk(["get_set"], 10).collect()]
    assert a == b


def test_empty_and_missing_terms(spark, built):
    idx = InvertedIndex(spark, IDX_DIR)
    assert idx.topk_batch([]).count() == 0
    assert idx.topk(["absent_term_xyz"], 5).count() == 0
    assert idx.topk(["absent_term_xyz", "get_set"], 5, "AND").count() == 0


def test_invalid_query_args_raise(spark, built):
    idx = InvertedIndex(spark, IDX_DIR)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mode"):
        idx.topk_batch([Query(0, ["x"], "and", 5)]).collect()
    with _pytest.raises(ValueError, match="k must be"):
        idx.topk_batch([Query(0, ["x"], "OR", 0)]).collect()
    # an empty term list in a mixed batch would silently yield no rows
    # for that qid — indistinguishable from "no matches"
    with _pytest.raises(ValueError, match="at least one term"):
        idx.topk_batch([Query(0, ["x"], "OR", 5), Query(1, [], "OR", 5)])
    # free text that ANALYZES to nothing is an empty result, not an
    # error (the caller didn't choose the term list)
    assert idx.search("of at").count() == 0


def test_snippets(spark, built, corpus, oracle):
    """Snippet serving: each top-k hit carries a deterministic token
    window — `window` tokens starting `before` ahead of the earliest
    query-term occurrence — computed JVM-side and matching a pure-
    Python re-derivation from the raw text."""
    tfs, dls, dfc, n, avgdl = oracle
    idx = InvertedIndex(spark, IDX_DIR)
    hot = sorted(dfc, key=lambda t: (-dfc[t], t))[:2]
    window, before = 8, 2
    got = {
        r["doc_id"]: (r["score_q"], r["rank"], r["snippet"])
        for r in idx.snippets(corpus, hot, 10, window=window, before=before).collect()
    }
    exp_rank = _oracle_topk(oracle, hot, 10, "OR")
    assert sorted(got) == sorted(d for d, _ in exp_rank)
    texts = {
        r["doc_id"]: r["content"]
        for r in corpus.withColumn("doc_id", F.xxhash64("repo", "path", "commit")).collect()
    }
    for rank, (doc, score) in enumerate(exp_rank, 1):
        toks = tokenize_py(texts[doc])
        first = min(i for i, t in enumerate(toks) if t in hot)  # 0-based
        start = max(0, first - before)
        exp_snip = " ".join(toks[start:start + window])
        assert got[doc] == (score, rank, exp_snip), doc
    # filtered variant composes; window bound holds
    f = idx.snippets(corpus, hot, 5, predicate="topic = 'go'", window=4).collect()
    assert 0 < len(f) <= 5
    assert all(len(r["snippet"].split(" ")) <= 4 for r in f)


def test_snippets_batch_equals_per_call(spark, built, corpus, oracle):
    """snippets_batch == a loop of single snippets calls per query:
    same hits, same ranks, same byte-identical windows (the batch path
    swaps the literal-term least for an array_min over the broadcast
    term array — semantics must not move)."""
    tfs, dls, dfc, n, avgdl = oracle
    idx = InvertedIndex(spark, IDX_DIR)
    hot = sorted(dfc, key=lambda t: (-dfc[t], t))[:3]
    qs = [
        Query(0, hot[:2], "OR", 8),
        Query(1, [hot[2], hot[0]], "AND", 5),
        Query(2, ["zz_never_a_term"], "OR", 5),  # no-match panel
    ]
    batch: dict[int, dict] = {}
    for r in idx.snippets_batch(corpus, qs, window=8, before=2).collect():
        batch.setdefault(r["query_id"], {})[r["doc_id"]] = (
            r["score_q"], r["rank"], r["snippet"]
        )
    for q in qs:
        want = {
            r["doc_id"]: (r["score_q"], r["rank"], r["snippet"])
            for r in idx.snippets(
                corpus, q.terms, q.k, mode=q.mode, window=8, before=2
            ).collect()
        }
        assert batch.get(q.query_id, {}) == want, f"snippet panel {q.query_id} diverged"
    assert batch[0] and 2 not in batch
    with pytest.raises(ValueError, match="window"):
        idx.snippets_batch(corpus, qs, window=0)


def test_more_like_this(spark, built, oracle):
    """MLT: the source doc's top-m reference-TF-IDF terms (round4,
    term-asc ties) become a BM25 OR query with the source excluded —
    both the term extraction and the final ranking must match the
    pure-Python oracle."""
    tfs, dls, dfc, n, avgdl = oracle
    src = min(tfs)  # deterministic source doc
    m, k = 5, 10
    exp_terms = [
        t for t, _ in sorted(
            ((t, tfidf_py(c, dls[src], dfc[t], n)) for t, c in tfs[src].items()),
            key=lambda kv: (-kv[1], kv[0]),
        )[:m]
    ]
    exp = [
        (d, s) for d, s in _oracle_topk(oracle, exp_terms, k + 1, "OR") if d != src
    ][:k]
    idx = InvertedIndex(spark, IDX_DIR)
    got = sorted(
        ((r["doc_id"], r["score_q"]) for r in idx.more_like_this(src, m=m, k=k).collect()),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == exp and len(got) == k
    assert all(d != src for d, _ in got)
    with pytest.raises(ValueError, match="not live"):
        idx.more_like_this(123456789, m=m, k=k)


def test_randomized_feature_differential(spark, built, oracle, corpus):
    """End-to-end randomized differential over the FULL query feature
    surface (mode x exclude x boosts x offset x min_should_match
    x batch-level metadata predicate): the engine must be
    row-identical to a transparent pure-Python BM25 oracle, per seeded
    batch.  Complements test_kernel_randomized (kernel level) by
    driving the whole serve path — shard cogroup, sub-shard merge,
    membership-only exclude decode, pagination windows, and the
    filtered cogroup path (vectorized mask; scores of surviving docs
    untouched by construction)."""
    import dataclasses
    import random

    tfs, dls, dfc, n, avgdl = oracle
    langs = {
        r["doc_id"]: r["lang"]
        for r in corpus.withColumn(
            "doc_id", F.xxhash64("repo", "path", "commit")
        ).select("doc_id", "lang").collect()
    }
    vocab = sorted(dfc)
    idx = InvertedIndex(spark, IDX_DIR)

    def py_ranked(q: Query, pred_lang: "str | None"):
        uniq = sorted(set(q.terms))
        boost = dict(zip(q.terms, q.boosts)) if q.boosts else {}
        out = {}
        for d, c in tfs.items():
            if pred_lang is not None and langs[d] != pred_lang:
                continue
            present = [t for t in uniq if t in c]
            if not present or (q.mode == "AND" and len(present) < len(uniq)):
                continue
            if q.min_should_match and len(present) < q.min_should_match:
                continue
            if any(t in c for t in q.exclude):
                continue
            out[d] = sum(
                bm25_quantized_py(c[t], dls[d], dfc[t], n, avgdl)
                * boost.get(t, 1)
                for t in present
            )
        return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))

    def py_oracle(q: Query, pred_lang: "str | None"):
        ranked = py_ranked(q, pred_lang)
        if q.search_after is not None:
            # cursor pages are ranked relative to the cursor
            a_s, a_d = q.search_after
            ranked = [
                (d, s) for d, s in ranked if s < a_s or (s == a_s and d > a_d)
            ]
            return [
                (q.query_id, d, s, r + 1) for r, (d, s) in enumerate(ranked)
            ][: q.k]
        return [
            (q.query_id, d, s, r + 1)
            for r, (d, s) in enumerate(ranked)
        ][q.offset : q.offset + q.k]

    # soak knobs: WTF_FUZZ_BATCHES=50 WTF_FUZZ_SEED=7 pytest ... -k differential
    n_batches = int(os.environ.get("WTF_FUZZ_BATCHES", "3"))
    rng = random.Random(int(os.environ.get("WTF_FUZZ_SEED", "1234")))
    all_langs = sorted(set(langs.values()))
    for batch_no in range(n_batches):
        # a predicate applies to the WHOLE batch (the API's contract);
        # scores of surviving docs must be the unfiltered globals
        pred_lang = (
            rng.choice(all_langs) if rng.random() < 0.35 else None
        )
        predicate = None if pred_lang is None else f"topic = '{pred_lang}'"
        queries = []
        for qid in range(12):
            n_terms = rng.randint(1, 4)
            terms = rng.sample(vocab, n_terms)
            mode = rng.choice(["OR", "AND"])
            k = rng.choice([1, 5, 20])
            exclude = tuple(
                t for t in rng.sample(vocab, rng.randint(0, 2)) if t not in terms
            )
            boosts = (
                tuple(rng.randint(1, 5) for _ in terms)
                if rng.random() < 0.5 else ()
            )
            offset = rng.choice([0, 0, 0, 3])
            msm = (
                rng.randint(2, len(terms))
                if mode == "OR" and len(terms) >= 2 and rng.random() < 0.4
                else 0
            )
            q = Query(qid, terms, mode, k,
                      exclude=exclude, boosts=boosts, offset=offset,
                      min_should_match=msm)
            if offset == 0 and rng.random() < 0.3:
                # cursor pagination draw: cut the oracle's full ranking
                # at a random point and page from there (ties included)
                full = py_ranked(q, pred_lang)
                if full:
                    cd, cs = full[rng.randrange(len(full))]
                    q = dataclasses.replace(q, search_after=(cs, cd))
            queries.append(q)
        expected = sorted(r for q in queries for r in py_oracle(q, pred_lang))
        got = sorted(
            (r["query_id"], r["doc_id"], r["score_q"], r["rank"])
            for r in idx.topk_batch(queries, predicate=predicate).collect()
        )
        assert got == expected, (batch_no, predicate)

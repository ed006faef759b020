"""Dictionary services (prefix search, fuzzy suggest, facet counts) and
hybrid lexical+dense retrieval vs transparent pure-Python oracles
(SURVEY.md §5 style: the oracle re-derives everything from the raw
corpus with no Spark in the loop)."""

from __future__ import annotations

import math
import re
import shutil
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from wikitfidf_spark.index.build import IndexConfig, build_index
from wikitfidf_spark.index.query import InvertedIndex
from wikitfidf_spark.operators.scoring import bm25_quantized_py
from wikitfidf_spark.tokenize import tokenize_py

IDX_DIR = "/tmp/wikitfidf_test_idx_dictsvc"

# The serving kernel each query-feature oracle test runs, kept as the
# last part of the test id. Term-at-a-time is the only kernel since the
# document-at-a-time WAND path was removed.
serving_kernels = pytest.mark.parametrize("kernel", ["taat"])


@pytest.fixture(scope="module")
def idx(spark, corpus):
    shutil.rmtree(IDX_DIR, ignore_errors=True)
    build_index(spark, corpus, IDX_DIR, IndexConfig(n_shards=4, n_salts=4))
    return InvertedIndex(spark, IDX_DIR)


@pytest.fixture(scope="module")
def py_stats(spark, corpus):
    rows = corpus.withColumn("doc_id", F.xxhash64("repo", "path", "commit")).select(
        "doc_id", "content", "lang"
    ).collect()
    tfs = {r["doc_id"]: Counter(tokenize_py(r["content"])) for r in rows}
    langs = {r["doc_id"]: r["lang"] for r in rows}
    dfc, cfc = Counter(), Counter()
    for c in tfs.values():
        dfc.update(c.keys())
        for t, n in c.items():
            cfc[t] += n
    return tfs, langs, dfc, cfc


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_prefix_terms_matches_oracle(idx, py_stats):
    _, _, dfc, cfc = py_stats
    want = sorted(
        ((t, dfc[t], cfc[t]) for t in dfc if t.startswith("re")),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = [(r["term"], r["df"], r["cf"]) for r in idx.prefix_terms("re", 10).collect()]
    assert got == want and len(got) > 0


def test_prefix_empty_raises(idx):
    with pytest.raises(ValueError):
        idx.prefix_terms("")


def _py_suggest(py_stats, q, d, n):
    _, _, dfc, _ = py_stats
    return sorted(
        ((t, _lev(t, q), dfc[t]) for t in dfc
         if abs(len(t) - len(q)) <= d and _lev(t, q) <= d),
        key=lambda x: (x[1], -x[2], x[0]),
    )[:n]


def test_suggest_matches_oracle(idx, py_stats):
    q, d = "arg_ctx", 2  # exact hit + arg_ctx77/arg_cfg/arg_ptr neighbors
    want = _py_suggest(py_stats, q, d, 10)
    got = [(r["term"], r["dist"], r["df"]) for r in idx.suggest(q, d, 10).collect()]
    assert got == want and len(got) > 0


def test_suggest_exact_hit_ranks_first(idx, py_stats):
    _, _, dfc, _ = py_stats
    term = max(dfc, key=lambda t: (dfc[t], t))
    got = idx.suggest(term, 1, 5).collect()
    assert got[0]["term"] == term and got[0]["dist"] == 0


def _py_prefix(py_stats, prefix, n):
    _, _, dfc, cfc = py_stats
    return sorted(
        ((t, dfc[t], cfc[t]) for t in dfc if t.startswith(prefix)),
        key=lambda x: (-x[1], x[0]),
    )[:n]


def test_prefix_terms_batch_equals_per_call(idx, py_stats):
    """Each batch panel and the single call (a one-panel batch) equal
    the pure-Python expectation; the prefixes' OR pushes into the
    dictionary scan."""
    # one keystroke tick's panels: hits, a no-match prefix, a 1-char one
    prefixes = [(0, "re"), (1, "arg_"), (2, "zzzznope"), (3, "m")]
    batch = idx.prefix_terms_batch(prefixes, n=7)
    by_qid: dict[int, list] = {}
    for r in batch.collect():
        by_qid.setdefault(r["query_id"], []).append((r["term"], r["df"], r["cf"]))
    for qid, p in prefixes:
        want = _py_prefix(py_stats, p, 7)
        assert by_qid.get(qid, []) == want, f"prefix panel {qid} ({p!r}) diverged"
        single = [(r["term"], r["df"], r["cf"]) for r in idx.prefix_terms(p, 7).collect()]
        assert single == want, f"prefix_terms({p!r}) diverged"
    assert 2 not in by_qid  # no-match prefix yields no rows, not an error
    e = batch._sc._jvm.PythonSQLUtils.explainString(batch._jdf.queryExecution(), "formatted")
    assert "StringStartsWith(term,re)" in e and "StringStartsWith(term,arg_)" in e


def test_prefix_terms_batch_guards(idx):
    with pytest.raises(ValueError, match="duplicate"):
        idx.prefix_terms_batch([(0, "re"), (0, "ma")])
    with pytest.raises(ValueError, match="non-empty"):
        idx.prefix_terms_batch([(0, "re"), (1, "")])


def test_suggest_batch_equals_per_call(idx, py_stats):
    _, _, dfc, _ = py_stats
    hot = max(dfc, key=lambda t: (dfc[t], t))
    queries = [(0, "arg_ctx"), (1, hot), (2, "qqqqqqqqqqqq")]
    got = idx.suggest_batch(queries, max_dist=2, n=8).collect()
    by_qid: dict[int, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append((r["term"], r["dist"], r["df"]))
    for qid, q in queries:
        want = _py_suggest(py_stats, q, 2, 8)
        assert by_qid.get(qid, []) == want, f"suggest panel {qid} ({q!r}) diverged"
        single = [(r["term"], r["dist"], r["df"]) for r in idx.suggest(q, 2, 8).collect()]
        assert single == want, f"suggest({q!r}) diverged"
    assert by_qid[1][0] == (hot, 0, dfc[hot])  # exact hit still ranks first


def test_suggest_batch_guards(idx):
    with pytest.raises(ValueError, match="duplicate"):
        idx.suggest_batch([(1, "a"), (1, "b")])
    with pytest.raises(ValueError, match="max_dist"):
        idx.suggest_batch([(0, "a")], max_dist=-1)


# ---------------- did-you-mean (phrase-suggester composition) ----------------


def test_did_you_mean_corrects_misspelled_term(idx, py_stats):
    _, _, dfc, _ = py_stats
    hot = max(dfc, key=lambda t: (dfc[t], t))
    typo = hot[:-1] + ("x" if hot[-1] != "x" else "q")  # dist-1 unknown
    assert typo not in dfc
    corrected, fixes = idx.did_you_mean(f"{hot} {typo}", max_dist=2)
    assert corrected is not None
    # the typo's best candidate is its (dist asc, df desc, term asc) top
    want = idx.suggest(typo, 2, 1).collect()[0]["term"]
    assert corrected == [hot, want]
    assert fixes == [
        {"term": typo, "replacement": want,
         "dist": fixes[0]["dist"], "df": fixes[0]["df"]}
    ] and fixes[0]["dist"] >= 1


def test_did_you_mean_clean_query_returns_none(idx, py_stats):
    _, _, dfc, _ = py_stats
    hot = sorted(dfc, key=lambda t: (-dfc[t], t))[:2]
    assert idx.did_you_mean(" ".join(hot)) == (None, [])
    # nothing analyzable -> no correction, not an error
    assert idx.did_you_mean("of at") == (None, [])
    # hopeless gibberish beyond max_dist -> None too
    assert idx.did_you_mean("qqwwqqwwqqww", max_dist=1) == (None, [])


def test_did_you_mean_feeds_topk(idx, py_stats):
    """The corrected list is in the index's TERM space: the retry query
    is topk(corrected) — not search(), which would re-stem
    already-stemmed terms (stemmers are not idempotent)."""
    _, _, dfc, _ = py_stats
    hot = max(dfc, key=lambda t: (dfc[t], t))
    typo = hot[:-1] + ("x" if hot[-1] != "x" else "q")
    corrected, _ = idx.did_you_mean(typo, max_dist=2)
    assert corrected is not None
    assert idx.topk(corrected, k=5).count() > 0


def test_facet_counts_matches_oracle(idx, py_stats):
    tfs, langs, _, _ = py_stats
    terms = ["map_lock5", "code_get93", "set_repo74"]
    match = {d for d, c in tfs.items() if any(t in c for t in terms)}
    want = Counter(langs[d] for d in match)
    got = {r["topic"]: r["n_docs"] for r in idx.facet_counts(terms, facet="topic").collect()}
    assert got == dict(want) and sum(got.values()) == len(match)
    # ordering: count desc, facet asc
    rows = idx.facet_counts(terms, facet="topic").collect()
    assert [(r["topic"], r["n_docs"]) for r in rows] == sorted(
        got.items(), key=lambda kv: (-kv[1], kv[0])
    )


@pytest.fixture(scope="module")
def vecs(spark, py_stats):
    """Deterministic per-doc embeddings keyed by doc_id (seeded from a
    stable index, not the hash, so the fixture is reproducible)."""
    tfs, _, _, _ = py_stats
    ids = sorted(tfs)
    rng = np.random.RandomState(11)
    mat = rng.randn(len(ids), 16).astype(np.float32)
    rows = [(int(d), [float(x) for x in mat[i]]) for i, d in enumerate(ids)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), {
        int(d): mat[i] for i, d in enumerate(ids)
    }


def _py_hybrid(py_stats, emb_map, terms, qvec, k, m, rrf_k):
    tfs, _, dfc, cfc = py_stats
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n
    scores = {}
    for d, c in tfs.items():
        present = [t for t in set(terms) if t in c]
        if present:
            scores[d] = sum(
                bm25_quantized_py(c[t], dls[d], dfc[t], n, avgdl) for t in present
            )
    cand = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:m]
    q = np.asarray(qvec, dtype=np.float64)
    qn2 = int(np.floor(q * q * 1e9 + 0.5).astype(np.int64).sum())
    out = []
    for rank_bm25, (d, bq) in enumerate(cand, 1):
        x = np.asarray(emb_map[d], dtype=np.float64)
        dot_q = int(np.floor(x * q * 1e9 + 0.5).astype(np.int64).sum())
        n2 = int(np.floor(x * x * 1e9 + 0.5).astype(np.int64).sum())
        cos = math.floor(dot_q / (math.sqrt(n2) * math.sqrt(qn2)) * 1e6 + 0.5) / 1e6
        out.append([d, bq, rank_bm25, cos])
    by_cos = sorted(out, key=lambda r: (-r[3], r[0]))
    rank_cos = {r[0]: i for i, r in enumerate(by_cos, 1)}
    fused = [
        (d, bq, cos,
         math.floor((1.0 / (rrf_k + rb) + 1.0 / (rrf_k + rank_cos[d])) * 1e9 + 0.5))
        for d, bq, rb, cos in out
    ]
    return sorted(fused, key=lambda r: (-r[3], r[0]))[:k]


def test_hybrid_topk_matches_oracle(idx, py_stats, vecs):
    vdf, emb_map = vecs
    terms = ["arg_ctx77", "arg_cfg"]
    qvec = emb_map[sorted(emb_map)[0]]
    want = _py_hybrid(py_stats, emb_map, terms, qvec, k=10, m=25, rrf_k=60)
    got = [
        (r["doc_id"], r["bm25_q"], r["cos"], r["rrf_q"])
        for r in idx.hybrid_topk(terms, vdf, [float(x) for x in qvec], k=10, m=25).collect()
    ]
    assert got == [tuple(w) for w in want]


def test_hybrid_missing_embedding_keeps_lexical_rank(idx, py_stats, vecs):
    """Candidates without an embedding row survive with cos=null and
    only the lexical RRF term."""
    vdf, emb_map = vecs
    terms = ["arg_ctx77", "arg_cfg"]
    qvec = emb_map[sorted(emb_map)[0]]
    full = idx.hybrid_topk(terms, vdf, [float(x) for x in qvec], k=10, m=25).collect()
    some_doc = full[0]["doc_id"]
    vdf_missing = vdf.filter(F.col("vec_id") != some_doc)
    got = idx.hybrid_topk(terms, vdf_missing, [float(x) for x in qvec], k=25, m=25).collect()
    row = next(r for r in got if r["doc_id"] == some_doc)
    assert row["cos"] is None and row["rrf_q"] > 0


def test_hybrid_zero_query_vec_raises(idx, vecs):
    vdf, _ = vecs
    with pytest.raises(ValueError):
        idx.hybrid_topk(["arg_cfg"], vdf, [0.0] * 16)


def test_hybrid_topk_batch_equals_per_call(idx, vecs):
    """Two hybrid queries (different terms AND different query vectors)
    served in one pipeline must be row-identical per query to
    hybrid_topk — same candidate pool, same quantized cosine, same
    (rrf desc, doc_id asc) cut."""
    vdf, emb_map = vecs
    ids = sorted(emb_map)
    panels = [
        (0, ["arg_ctx77", "arg_cfg"], [float(x) for x in emb_map[ids[0]]]),
        (1, ["map_lock5"], [float(x) for x in emb_map[ids[1]]]),
    ]
    got = idx.hybrid_topk_batch(panels, vdf, k=10, m=25).collect()
    by_qid: dict[int, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["bm25_q"], r["cos"], r["rrf_q"])
        )
    for qid, terms, qvec in panels:
        want = [
            (r["doc_id"], r["bm25_q"], r["cos"], r["rrf_q"])
            for r in idx.hybrid_topk(terms, vdf, qvec, k=10, m=25).collect()
        ]
        assert by_qid.get(qid, []) == want, f"hybrid panel {qid} diverged"


def test_hybrid_topk_batch_guards(idx, vecs):
    vdf, emb_map = vecs
    qvec = [float(x) for x in emb_map[sorted(emb_map)[0]]]
    with pytest.raises(ValueError, match="duplicate"):
        idx.hybrid_topk_batch([(0, ["arg_cfg"], qvec), (0, ["map_lock5"], qvec)], vdf)
    with pytest.raises(ValueError, match="non-zero"):
        idx.hybrid_topk_batch([(0, ["arg_cfg"], [0.0] * len(qvec))], vdf)


# ---------------- SymSpell-style indexed suggest ----------------


def test_deletes_py_neighborhood():
    from wikitfidf_spark.index.suggest import _deletes_py

    assert _deletes_py("abc", 1) == {"abc", "bc", "ac", "ab"}
    d2 = _deletes_py("abc", 2)
    assert {"abc", "bc", "ac", "ab", "a", "b", "c"} == d2


def test_suggest_indexed_equals_scan(spark, idx, py_stats):
    """The indexed path must reproduce the scan path exactly for every
    probe (same candidates surviving verify, same ranking)."""
    from wikitfidf_spark.index.suggest import build_suggest_index, suggest_indexed

    build_suggest_index(spark, IDX_DIR, max_dist=2)
    for q, d in (("arg_ctx", 2), ("arg_cfg", 1), ("core_get_ctx", 2), ("zzzz", 1)):
        scan = [(r["term"], r["dist"], r["df"]) for r in idx.suggest(q, d, 10).collect()]
        fast = [
            (r["term"], r["dist"], r["df"])
            for r in suggest_indexed(spark, IDX_DIR, q, d, 10).collect()
        ]
        assert fast == scan, (q, d)


def test_suggest_indexed_batch_equals_per_call(spark, idx, py_stats):
    """Each batch panel and the single call (a one-panel batch) equal
    the pure-Python expectation; the union of the batch's deletion
    keys pushes into the key table's scan."""
    from wikitfidf_spark.index.suggest import (
        build_suggest_index,
        suggest_indexed,
        suggest_indexed_batch,
    )

    build_suggest_index(spark, IDX_DIR, max_dist=2)
    queries = [(0, "arg_ctx"), (1, "core_get_ctx"), (2, "zzzz")]
    batch = suggest_indexed_batch(spark, IDX_DIR, queries, max_dist=2, n=10)
    by_qid: dict[int, list] = {}
    for r in batch.collect():
        by_qid.setdefault(r["query_id"], []).append((r["term"], r["dist"], r["df"]))
    for qid, q in queries:
        want = _py_suggest(py_stats, q, 2, 10)
        assert by_qid.get(qid, []) == want, (qid, q)
        single = [
            (r["term"], r["dist"], r["df"])
            for r in suggest_indexed(spark, IDX_DIR, q, 2, 10).collect()
        ]
        assert single == want, (q, "single")
    e = batch._sc._jvm.PythonSQLUtils.explainString(batch._jdf.queryExecution(), "formatted")
    assert re.search(r"PushedFilters: \[[^\]]*In\(key,", e), e
    with pytest.raises(ValueError, match="duplicate"):
        suggest_indexed_batch(spark, IDX_DIR, [(0, "a"), (0, "b")])
    with pytest.raises(ValueError, match="max_dist"):
        suggest_indexed_batch(spark, IDX_DIR, [(0, "arg_ctx")], max_dist=3)


def test_suggest_indexed_guards(spark, idx):
    from wikitfidf_spark.index.suggest import build_suggest_index, suggest_indexed

    build_suggest_index(spark, IDX_DIR, max_dist=1)
    with pytest.raises(ValueError, match="max_dist"):
        suggest_indexed(spark, IDX_DIR, "arg_ctx", 2)


# ---------------- synonym-group BM25 ----------------


def _py_synonym_topk(py_stats, groups, k, mode="OR"):
    tfs, _, _, _ = py_stats
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n
    gdf = []
    for g in groups:
        gdf.append(sum(1 for c in tfs.values() if any(t in c for t in g)))
    out = {}
    for d, c in tfs.items():
        total, ng = 0, 0
        for gi, g in enumerate(groups):
            tf_g = sum(c.get(t, 0) for t in g)
            if tf_g:
                ng += 1
                total += bm25_quantized_py(tf_g, dls[d], gdf[gi], n, avgdl)
        if ng and (mode == "OR" or ng == len(groups)):
            out[d] = total
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_synonym_topk_matches_oracle(idx, py_stats):
    groups = [["arg_ctx77", "arg_cfg"], ["data_repo_map"]]
    want = _py_synonym_topk(py_stats, groups, 10)
    got = [(r["doc_id"], r["score_q"]) for r in idx.synonym_topk(groups, 10).collect()]
    assert got == want and len(got) == 10


def test_synonym_topk_and_mode(idx, py_stats):
    groups = [["arg_ctx77", "arg_cfg"], ["data_repo_map"]]
    want = _py_synonym_topk(py_stats, groups, 10, mode="AND")
    got = [
        (r["doc_id"], r["score_q"])
        for r in idx.synonym_topk(groups, 10, mode="AND").collect()
    ]
    assert got == want


def test_synonym_group_df_differs_from_naive_or(idx, py_stats):
    """The group idf must come from the UNION doc set — for synonyms
    with overlapping doc sets the group score differs from summing
    per-term scores (the naive OR)."""
    tfs, _, dfc, _ = py_stats
    g = ["arg_ctx77", "arg_cfg"]
    union_df = sum(1 for c in tfs.values() if any(t in c for t in g))
    assert union_df < dfc[g[0]] + dfc[g[1]]  # overlap exists
    got = idx.synonym_topk([g], 5).collect()
    naive = idx.topk(g, 5, mode="OR").collect()
    assert [(r["doc_id"], r["score_q"]) for r in got] != [
        (r["doc_id"], r["score_q"]) for r in naive
    ]


def test_synonym_duplicate_term_raises(idx):
    with pytest.raises(ValueError, match="more than one group"):
        idx.synonym_topk([["arg_cfg"], ["arg_cfg", "arg_ctx"]])


def test_delete_keys_match_python_neighborhood(spark):
    """Build-side JVM delete-variant generation must equal the query
    side's _deletes_py exactly — including the EMPTY variant (the only
    shared key between fully-disjoint strings of length <= max_dist)."""
    from wikitfidf_spark.index.suggest import _delete_keys, _deletes_py

    df = spark.createDataFrame([("abc",), ("zzzz",)], "term string")
    for d in (1, 2, 3):
        got = {(r["term"], r["key"]) for r in _delete_keys(df, "term", d).collect()}
        want = {(t, k) for t in ("abc", "zzzz") for k in _deletes_py(t, d)}
        assert got == want, d


# ---------------- must_not (NOT) queries ----------------


def _py_not_topk(py_stats, terms, exclude, k, mode="OR"):
    tfs, _, dfc, _ = py_stats
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n
    out = {}
    uniq = set(terms)
    for d, c in tfs.items():
        if any(t in c for t in exclude):
            continue
        present = [t for t in uniq if t in c]
        if not present or (mode == "AND" and len(present) < len(uniq)):
            continue
        out[d] = sum(bm25_quantized_py(c[t], dls[d], dfc[t], n, avgdl) for t in present)
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@serving_kernels
@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_not_queries_match_oracle(idx, py_stats, kernel, mode):
    from wikitfidf_spark.index.query import Query

    terms, exclude = ["arg_ctx77", "arg_cfg"], ("arg_ctx",)
    want = _py_not_topk(py_stats, terms, exclude, 10, mode)
    got = [
        (r["doc_id"], r["score_q"])
        for r in idx.topk_batch([Query(0, terms, mode, 10, exclude=exclude)]).collect()
    ]
    assert got == want and len(got) > 0


def test_not_exclusion_actually_drops_docs(idx, py_stats):
    from wikitfidf_spark.index.query import Query

    tfs, _, _, _ = py_stats
    terms, exclude = ["arg_ctx77", "arg_cfg"], ("arg_ctx",)
    excluded_matching = [
        d for d, c in tfs.items()
        if any(t in c for t in terms) and any(t in c for t in exclude)
    ]
    assert excluded_matching  # probe actually exercises exclusion
    got = {
        r["doc_id"]
        for r in idx.topk_batch([Query(0, terms, "OR", 10000, exclude=exclude)]).collect()
    }
    assert not (got & set(excluded_matching))
    # surviving docs keep their unfiltered scores
    base = {
        r["doc_id"]: r["score_q"]
        for r in idx.topk_batch([Query(0, terms, "OR", 10000)]).collect()
    }
    scored = {
        r["doc_id"]: r["score_q"]
        for r in idx.topk_batch([Query(0, terms, "OR", 10000, exclude=exclude)]).collect()
    }
    assert all(base[d] == s for d, s in scored.items())


def test_not_overlap_raises(idx):
    from wikitfidf_spark.index.query import Query

    with pytest.raises(ValueError, match="scored and excluded"):
        idx.topk_batch([Query(0, ["arg_cfg"], "OR", 5, exclude=("arg_cfg",))])


# ---------------- pagination (offset) ----------------


@serving_kernels
def test_pagination_pages_tile_the_ranking(idx, kernel):
    from wikitfidf_spark.index.query import Query

    terms = ["arg_ctx77", "arg_cfg"]
    full = idx.topk_batch([Query(0, terms, "OR", 30)]).collect()
    pages = []
    for off in (0, 10, 20):
        pages += idx.topk_batch([Query(0, terms, "OR", 10, offset=off)]).collect()
    tile = sorted((r["rank"], r["doc_id"], r["score_q"]) for r in pages)
    want = sorted((r["rank"], r["doc_id"], r["score_q"]) for r in full)
    assert tile == want and len(want) == 30
    # absolute ranks: page 2 starts at rank 11
    p2 = idx.topk_batch([Query(0, terms, "OR", 10, offset=10)]).collect()
    assert min(r["rank"] for r in p2) == 11


def test_pagination_negative_offset_raises(idx):
    from wikitfidf_spark.index.query import Query

    with pytest.raises(ValueError, match="offset"):
        idx.topk_batch([Query(0, ["arg_cfg"], "OR", 5, offset=-1)])


# ---------------- cursor pagination (search_after) ----------------


@serving_kernels
def test_search_after_tiles_like_offset(idx, kernel):
    """Walking pages by cursor yields EXACTLY the offset path's pages
    (same docs, same scores; cursor ranks are page-relative)."""
    from wikitfidf_spark.index.query import Query

    terms = ["arg_ctx77", "arg_cfg"]
    full = idx.topk_batch([Query(0, terms, "OR", 30)]).collect()
    assert len(full) == 30
    by_rank = sorted(full, key=lambda r: r["rank"])
    cursor, walked = None, []
    for _ in range(3):
        page = idx.topk_batch([Query(0, terms, "OR", 10, search_after=cursor)]).collect()
        page = sorted(page, key=lambda r: r["rank"])
        assert [r["rank"] for r in page] == list(range(1, 11))  # page-relative
        walked += [(r["doc_id"], r["score_q"]) for r in page]
        cursor = (page[-1]["score_q"], page[-1]["doc_id"])
    assert walked == [(r["doc_id"], r["score_q"]) for r in by_rank]


def test_search_after_rejects_offset_combo(idx):
    from wikitfidf_spark.index.query import Query

    with pytest.raises(ValueError, match="mutually"):
        idx.topk_batch(
            [Query(0, ["arg_cfg"], "OR", 5, offset=3, search_after=(10, 2))]
        )
    with pytest.raises(ValueError, match="score_q, doc_id"):
        idx.topk_batch([Query(0, ["arg_cfg"], "OR", 5, search_after=(10,))])


# ---------------- per-term query boosts ----------------


def _py_boosted_topk(py_stats, terms, boosts, k):
    tfs, _, dfc, _ = py_stats
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n
    bmap = dict(zip(terms, boosts))
    out = {}
    for d, c in tfs.items():
        present = [t for t in set(terms) if t in c]
        if present:
            out[d] = sum(
                bmap[t] * bm25_quantized_py(c[t], dls[d], dfc[t], n, avgdl)
                for t in present
            )
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@serving_kernels
def test_boosted_topk_matches_oracle(idx, py_stats, kernel):
    from wikitfidf_spark.index.query import Query

    terms, boosts = ["arg_ctx77", "arg_cfg"], (1, 3)
    want = _py_boosted_topk(py_stats, terms, boosts, 10)
    got = [
        (r["doc_id"], r["score_q"])
        for r in idx.topk_batch([Query(0, terms, "OR", 10, boosts=boosts)]).collect()
    ]
    assert got == want and len(got) == 10


def test_boost_of_one_is_identity(idx):
    from wikitfidf_spark.index.query import Query

    terms = ["arg_ctx77", "arg_cfg"]
    a = idx.topk_batch([Query(0, terms, "OR", 10)]).collect()
    b = idx.topk_batch([Query(0, terms, "OR", 10, boosts=(1, 1))]).collect()
    assert [(r["doc_id"], r["score_q"]) for r in a] == [
        (r["doc_id"], r["score_q"]) for r in b
    ]


def test_boost_validation(idx):
    from wikitfidf_spark.index.query import Query

    with pytest.raises(ValueError, match="boosts for"):
        idx.topk_batch([Query(0, ["arg_cfg"], "OR", 5, boosts=(1, 2))])
    with pytest.raises(ValueError, match=">= 1"):
        idx.topk_batch([Query(0, ["arg_cfg"], "OR", 5, boosts=(0,))])


def test_facet_counts_batch_equals_per_call(idx):
    """facet_counts_batch == a loop of single facet_counts calls; a
    term shared by two panels fans out to both."""
    t1, t2 = [
        r["term"]
        for r in idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    ]
    panels = [(0, [t1]), (1, [t2, t1]), (2, ["zz_missing"])]
    batch = idx.facet_counts_batch(panels, facet="topic").collect()
    got = {(r["query_id"], r["topic"], r["n_docs"]) for r in batch}
    want = set()
    for qid, terms in panels:
        for r in idx.facet_counts(terms, facet="topic").collect():
            want.add((qid, r["topic"], r["n_docs"]))
    assert got == want and got
    # batch output ordering: (query_id asc, n_docs desc, facet asc)
    keys = [(r["query_id"], -r["n_docs"], r["topic"]) for r in batch]
    assert keys == sorted(keys)


def test_more_like_this_batch_equals_per_call(spark, idx, corpus):
    """more_like_this_batch == a loop of single more_like_this calls:
    same (doc, score, rank) per source, source doc structurally
    excluded, unknown sources rejected."""
    ids = [r["doc_id"] for r in
           idx.docmeta.select("doc_id").orderBy("doc_id").limit(3).collect()]
    batch = idx.more_like_this_batch(ids, m=6, k=5).collect()
    got = {(r["src_doc_id"], r["doc_id"], r["score_q"], r["rank"]) for r in batch}
    want = set()
    for src in ids:
        for r in idx.more_like_this(src, m=6, k=5).collect():
            want.add((src, r["doc_id"], r["score_q"], r["rank"]))
    assert got == want and got
    assert all(r["doc_id"] != r["src_doc_id"] for r in batch)
    with pytest.raises(ValueError, match="not live"):
        idx.more_like_this_batch([ids[0], 123456789], m=6, k=5)


def test_more_like_this_batch_duplicate_sources(spark, idx, corpus):
    """A repeated source doc_id must not poison term extraction: the
    lens join is built over DEDUPED ids (a duplicate would double every
    tf row, so the per-doc top-m window would rank each term twice and
    the queries would carry ~m/2 distinct terms).  Both occurrences get
    their own query_id with results identical to the singleton call."""
    d = idx.docmeta.select("doc_id").orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    batch = idx.more_like_this_batch([d, d], m=6, k=5).collect()
    want = {(r["doc_id"], r["score_q"], r["rank"])
            for r in idx.more_like_this(d, m=6, k=5).collect()}
    assert want
    for qid in (0, 1):
        got = {(r["doc_id"], r["score_q"], r["rank"])
               for r in batch if r["query_id"] == qid}
        assert got == want, qid


def test_hybrid_zero_norm_embedding_cos_null(idx, py_stats, vecs):
    """A document embedding that quantizes to zero norm has no dense
    signal: cos must be null (ranked last, lexical RRF term only) —
    NOT a divide-by-zero (ANSI mode fails the job) or +Infinity
    (non-ANSI steals rank_cos 1)."""
    vdf, emb_map = vecs
    terms = ["arg_ctx77", "arg_cfg"]
    qvec = emb_map[sorted(emb_map)[0]]
    full = idx.hybrid_topk(terms, vdf, [float(x) for x in qvec], k=10, m=25).collect()
    some_doc = full[0]["doc_id"]
    dim = len(qvec)
    zeroed = vdf.filter(F.col("vec_id") != some_doc).unionByName(
        vdf.sparkSession.createDataFrame(
            [(some_doc, [0.0] * dim)], "vec_id long, embedding array<float>"
        )
    )
    got = idx.hybrid_topk(terms, zeroed, [float(x) for x in qvec], k=25, m=25).collect()
    row = next(r for r in got if r["doc_id"] == some_doc)
    assert row["cos"] is None and row["rrf_q"] > 0
    # the zero-norm doc must not have stolen the best dense rank: some
    # other doc still carries a non-null cosine
    assert any(r["cos"] is not None for r in got)


def test_batch_duplicate_query_ids_rejected(idx):
    """Duplicate query_ids would silently merge two queries' results
    under the shared rank window — all batch APIs reject them."""
    from wikitfidf_spark.index.query import PhraseQuery, Query

    with pytest.raises(ValueError, match="duplicate query_id"):
        idx.topk_batch([Query(1, ["arg_cfg"], "OR", 5), Query(1, ["arg_ctx77"], "OR", 3)])
    with pytest.raises(ValueError, match="duplicate query_id"):
        idx.phrase_topk_batch([
            PhraseQuery(2, ["arg_cfg", "arg_ctx77"], 5),
            PhraseQuery(2, ["arg_ctx77", "arg_cfg"], 5),
        ])
    with pytest.raises(ValueError, match="duplicate query_id"):
        idx.facet_counts_batch([(3, ["arg_cfg"]), (3, ["arg_ctx77"])])
    # suggest_indexed_batch validates before touching the table, so the
    # shared check must fire here too (it delegates to the same helper)
    from wikitfidf_spark.index.suggest import suggest_indexed_batch

    with pytest.raises(ValueError, match="duplicate query_id"):
        suggest_indexed_batch(idx.spark, idx.index_dir, [(4, "argcfg"), (4, "argctx")])


def test_batch_query_id_outside_int32_rejected(idx):
    """query_id is an int32 column: 2**32 + 1 would wrap to 1 and merge
    with Query(1, ...)'s rows, so ids outside int32 are rejected."""
    from wikitfidf_spark.index.query import Query

    for bad in (2**32 + 1, 2**31, -(2**31) - 1):
        with pytest.raises(ValueError, match=f"query_id {bad} is outside int32"):
            idx.topk_batch([Query(1, ["arg_cfg"], "OR", 5), Query(bad, ["arg_ctx77"], "OR", 3)])
    edge = idx.topk_batch([Query(2**31 - 1, ["arg_cfg"], "OR", 2), Query(-(2**31), ["arg_cfg"], "OR", 2)])
    assert sorted({r["query_id"] for r in edge.collect()}) == [-(2**31), 2**31 - 1]


def test_snippets_empty_terms_raises(idx, corpus):
    """analyze() of a stopword-only query returns [] — snippets must
    fail with a clean ValueError, not a WRONG_NUM_COLUMNS pyspark
    error from F.least over zero columns."""
    with pytest.raises(ValueError, match="at least one term"):
        idx.snippets(corpus, [], k=5)


@serving_kernels
def test_exclude_docs_per_query(idx, kernel):
    """Query.exclude_docs drops exactly those doc ids from ONE query's
    result with ranks re-closed (the in-kernel mechanism more_like_this
    uses to exclude its source doc), while a sibling query in the same
    batch is untouched."""
    from wikitfidf_spark.index.query import Query

    top = [r["term"] for r in idx.dictionary.orderBy(F.desc("df")).limit(1).collect()]
    base = sorted(
        idx.topk_batch([Query(0, top, "OR", 6)]).collect(),
        key=lambda r: r["rank"],
    )
    assert len(base) >= 3
    drop = (base[0]["doc_id"], base[2]["doc_id"])
    got = idx.topk_batch(
        [Query(0, top, "OR", 4, exclude_docs=drop), Query(1, top, "OR", 3)]
    ).collect()
    q0 = sorted((r for r in got if r["query_id"] == 0), key=lambda r: r["rank"])
    q1 = sorted((r for r in got if r["query_id"] == 1), key=lambda r: r["rank"])
    want = [r["doc_id"] for r in base if r["doc_id"] not in drop][:4]
    assert [r["doc_id"] for r in q0] == want
    assert [r["rank"] for r in q0] == list(range(1, len(want) + 1))
    # sibling query unaffected
    assert [r["doc_id"] for r in q1] == [r["doc_id"] for r in base[:3]]


# ---------------------------------------------------------------- wildcard


def _py_wildcard_expand(py_stats, pattern, cap=32):
    # oracle matches ONLY the engine's */? dialect (fnmatch would also
    # interpret [seq] character classes the engine treats as literals)
    import re

    from wikitfidf_spark.index.query import wildcard_regex

    rx = re.compile(wildcard_regex(pattern)[0])
    _, _, dfc, cfc = py_stats
    hits = [t for t in dfc if rx.match(t)]
    hits.sort(key=lambda t: (-dfc[t], t))
    return [(t, dfc[t], cfc[t]) for t in hits[:cap]]


def test_expand_wildcard_matches_oracle(idx, py_stats):
    """'*'/'?' expansion = fnmatch over the pure-Python dictionary,
    (df desc, term asc) cap."""
    for pattern in ("arg_c*", "arg_ctx?7", "*lock*", "ma?_*5"):
        want = _py_wildcard_expand(py_stats, pattern)
        got = [
            (r["term"], r["df"], r["cf"])
            for r in idx.expand_wildcard(pattern).collect()
        ]
        assert got == want, pattern
        assert want, f"pattern {pattern} matched nothing — fixture drifted"


def test_expand_wildcard_cap_is_deterministic(idx, py_stats):
    want = _py_wildcard_expand(py_stats, "*", cap=5)
    got = [(r["term"], r["df"], r["cf"]) for r in idx.expand_wildcard("*", 5).collect()]
    assert got == want


def test_wildcard_topk_matches_oracle(idx, py_stats):
    """wildcard_topk == OR top-k over the capped expansion (pure-Python
    BM25 oracle)."""
    pattern = "arg_c*"
    terms = [t for t, _, _ in _py_wildcard_expand(py_stats, pattern)]
    want = _py_not_topk(py_stats, terms, (), 10, "OR")
    got = [
        (r["doc_id"], r["score_q"])
        for r in sorted(idx.wildcard_topk(pattern, k=10).collect(), key=lambda r: r["rank"])
    ]
    assert got == want


def test_wildcard_no_match_is_empty(idx):
    out = idx.wildcard_topk("zzqx*never", k=5)
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "score_q", "score", "rank"}


def test_wildcard_empty_pattern_raises(idx):
    with pytest.raises(ValueError, match="non-empty"):
        idx.expand_wildcard("")


def test_wildcard_brackets_are_literal(idx):
    """'[' / ']' are literal characters in the wildcard dialect, not
    fnmatch character classes — no dictionary term contains them."""
    assert idx.expand_wildcard("ma[xy]*").count() == 0


def test_wildcard_msm_above_expansion_is_unsatisfiable(idx, py_stats):
    """An msm floor wider than the expansion returns NO matches (Lucene
    semantics) instead of silently weakening the constraint."""
    pattern = "arg_c*"
    width = len(_py_wildcard_expand(py_stats, pattern))
    assert width >= 2
    assert idx.wildcard_topk(pattern, k=5, min_should_match=width + 1).count() == 0
    # at exactly the expansion width the floor is satisfiable
    sat = idx.wildcard_topk(pattern, k=5, min_should_match=2)
    assert sat.count() > 0


# ------------------------------------------------------- min_should_match


def _py_msm_topk(py_stats, terms, k, msm):
    tfs, _, dfc, _ = py_stats
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n
    out = {}
    uniq = set(terms)
    for d, c in tfs.items():
        present = [t for t in uniq if t in c]
        if len(present) < max(msm, 1):
            continue
        out[d] = sum(bm25_quantized_py(c[t], dls[d], dfc[t], n, avgdl) for t in present)
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@serving_kernels
@pytest.mark.parametrize("msm", [2, 3])
def test_min_should_match_matches_oracle(idx, py_stats, kernel, msm):
    from wikitfidf_spark.index.query import Query

    # triple chosen so the fixture has docs at every match width
    # (5 docs match all 3, 38 match >= 2)
    terms = ["buf_pack64", "ptr_set_util29", "buf_util27"]
    want = _py_msm_topk(py_stats, terms, 10, msm)
    assert want, "fixture drifted: msm oracle returned nothing"
    got = [
        (r["doc_id"], r["score_q"])
        for r in sorted(
            idx.topk_batch(
                [Query(0, terms, "OR", 10, min_should_match=msm)]
            ).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert got == want


@serving_kernels
def test_msm_full_width_equals_and(idx, kernel):
    """msm == n_terms selects the AND doc set with identical scores."""
    from wikitfidf_spark.index.query import Query

    terms = ["arg_ctx77", "arg_cfg"]
    via_msm = idx.topk_batch([Query(0, terms, "OR", 10, min_should_match=2)]).collect()
    via_and = idx.topk_batch([Query(0, terms, "AND", 10)]).collect()
    key = lambda rows: [(r["doc_id"], r["score_q"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert key(via_msm) == key(via_and)


def test_msm_validation(idx):
    from wikitfidf_spark.index.query import Query

    with pytest.raises(ValueError, match="min_should_match applies to OR"):
        idx.topk_batch([Query(0, ["a", "b"], "AND", 5, min_should_match=2)])
    with pytest.raises(ValueError, match="min_should_match must be in"):
        idx.topk_batch([Query(0, ["a", "b"], "OR", 5, min_should_match=3)])


# ---------------------------------------------------------------- explain


def test_explain_matches_python_oracle(idx, py_stats):
    """explain(): per-(doc, term) breakdown carries the exact stored
    quantized impact (score_q == bm25_quantized_py), its float preimage
    (floor(score*QUANT+0.5) == score_q), and the true tf/df/doc_len."""
    from wikitfidf_spark.operators.scoring import QUANT

    tfs, _, dfc, _ = py_stats
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n
    terms = ["arg_ctx77", "arg_cfg"]
    top = [r["doc_id"] for r in idx.topk(terms, k=3).collect()]
    rows = idx.explain(terms, top).collect()
    assert {r["doc_id"] for r in rows} <= set(top)
    seen = set()
    for r in rows:
        d, t = r["doc_id"], r["term"]
        seen.add((d, t))
        assert r["tf"] == tfs[d][t]
        assert r["df"] == dfc[t]
        assert r["doc_len"] == dls[d]
        want_q = bm25_quantized_py(r["tf"], r["doc_len"], r["df"], n, avgdl)
        assert r["score_q"] == want_q
        assert math.floor(r["score"] * QUANT + 0.5) == r["score_q"]
    # every (top doc, present term) pair is explained
    want_pairs = {(d, t) for d in top for t in terms if t in tfs[d]}
    assert seen == want_pairs


def test_explain_validation(idx):
    with pytest.raises(ValueError, match="at least one term"):
        idx.explain([], [1])
    with pytest.raises(ValueError, match="at least one doc id"):
        idx.explain(["arg_cfg"], [])


def test_wildcard_topk_batch_equals_per_call(idx):
    """A batch of wildcard panels (incl. a leading-wildcard one and a
    no-match one) is row-identical per panel to wildcard_topk."""
    panels = [(0, "arg_c*"), (1, "*lock*"), (2, "zzqx*never"), (3, "ma?_*5")]
    got = idx.wildcard_topk_batch(panels, k=7).collect()
    by_qid: dict[int, list] = {}
    for r in got:
        by_qid.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score_q"], r["rank"])
        )
    for qid, p in panels:
        want = [
            (r["doc_id"], r["score_q"], r["rank"])
            for r in sorted(idx.wildcard_topk(p, k=7).collect(), key=lambda r: r["rank"])
        ]
        assert sorted(by_qid.get(qid, [])) == sorted(want), f"panel {qid} ({p!r})"
    assert 2 not in by_qid  # no-match pattern yields no rows, not an error


def test_wildcard_topk_batch_guards(idx):
    with pytest.raises(ValueError, match="duplicate"):
        idx.wildcard_topk_batch([(0, "a*"), (0, "b*")])
    with pytest.raises(ValueError, match="non-empty"):
        idx.wildcard_topk_batch([(0, "a*"), (1, "")])


def test_search_min_should_match(idx, py_stats):
    """search() threads msm through analysis; an unsatisfiable floor
    (wider than the analyzed term count) is empty, not an error."""
    text = "buf_pack64 ptr_set_util29 buf_util27"
    want = _py_msm_topk(py_stats, text.split(), 10, 2)
    got = [
        (r["doc_id"], r["score_q"])
        for r in sorted(
            idx.search(text, k=10, min_should_match=2).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert got == want and len(got) > 0
    assert idx.search(text, k=10, min_should_match=99).count() == 0


def test_facet_histogram_matches_oracle(idx, py_stats):
    """Range-facet counts == a pure-Python bucket count over the
    OR-match set's doc lengths; out-of-range values are not counted."""
    tfs, _, _, _ = py_stats
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    terms = ["arg_ctx77", "arg_cfg"]
    lens = sorted(dls[d] for d, c in tfs.items() if any(t in c for t in terms))
    assert lens, "fixture drifted"
    # edges chosen around the fixture's length distribution, with the
    # first bucket deliberately starting ABOVE the minimum so the
    # out-of-range drop is exercised
    edges = [float(lens[len(lens) // 4]), float(lens[len(lens) // 2]),
             float(lens[(3 * len(lens)) // 4]), float(lens[-1]) + 1.0]
    want = Counter()
    for d, c in tfs.items():
        if not any(t in c for t in terms):
            continue
        v = float(dls[d])
        for i in range(len(edges) - 1):
            if edges[i] <= v < edges[i + 1]:
                want[(edges[i], edges[i + 1])] += 1
    got = {
        (r["bucket_start"], r["bucket_end"]): r["n_docs"]
        for r in idx.facet_histogram(terms, "doc_len", edges).collect()
    }
    assert got == dict(want) and sum(got.values()) < len(lens)  # some dropped


def test_facet_histogram_guards(idx):
    with pytest.raises(ValueError, match="strictly increasing"):
        idx.facet_histogram(["arg_cfg"], edges=(10, 10, 20))
    with pytest.raises(ValueError, match="at least one term"):
        idx.facet_histogram([], edges=(0, 10))


def _py_collapse(py_stats, terms, k, mode="OR"):
    """Best-scoring doc per topic (ties doc asc), groups ranked by
    their representative (score desc, doc asc), top k → (topic, doc,
    score_q)."""
    tfs, langs, dfc, _ = py_stats
    dls = {d: sum(c.values()) for d, c in tfs.items()}
    n = len(tfs)
    avgdl = sum(dls.values()) / n
    scores = {}
    for d, c in tfs.items():
        present = [t for t in set(terms) if t in c]
        if present and (mode == "OR" or len(present) == len(set(terms))):
            scores[d] = sum(
                bm25_quantized_py(c[t], dls[d], dfc[t], n, avgdl) for t in present
            )
    best: dict[str, tuple] = {}
    for d, s in scores.items():
        cur = best.get(langs[d])
        if cur is None or (-s, d) < (-cur[1], cur[0]):
            best[langs[d]] = (d, s)
    return sorted(
        ((lang, d, s) for lang, (d, s) in best.items()),
        key=lambda x: (-x[2], x[1]),
    )[:k]


def test_collapse_topk_matches_oracle(idx, py_stats):
    """Field collapsing: the best-scoring doc per topic, groups ranked
    by their representative's score, vs a pure-Python oracle."""
    terms = ["arg_ctx77", "arg_cfg"]
    want = _py_collapse(py_stats, terms, 5)
    got = [
        (r["topic"], r["doc_id"], r["score_q"])
        for r in idx.collapse_topk(terms, field="topic", k=5).collect()
    ]
    assert got == want and len(got) > 1
    # one row per distinct field value
    assert len({t for t, _, _ in got}) == len(got)


def test_collapse_topk_guards(idx):
    with pytest.raises(ValueError, match="at least one term"):
        idx.collapse_topk([])
    with pytest.raises(ValueError, match="unknown mode"):
        idx.collapse_topk(["arg_cfg"], mode="NOR")


def test_collapse_topk_k_guard(idx):
    with pytest.raises(ValueError, match="k must be >= 1"):
        idx.collapse_topk(["arg_cfg"], k=0)


def test_facet_histogram_rejects_nan_edges(idx):
    with pytest.raises(ValueError, match="finite"):
        idx.facet_histogram(["arg_cfg"], edges=(0.0, float("nan"), 100.0))


def test_collapse_topk_batch_equals_per_call(idx, py_stats):
    """Each collapse_topk_batch panel and the single collapse_topk call
    (a one-panel batch) equal the pure-Python collapse, in both modes;
    a term shared by two panels fans out to both and per-panel
    ordering (score desc, doc asc) survives the rank window."""
    from wikitfidf_spark.operators.scoring import QUANT

    t1, t2, t3 = [
        r["term"]
        for r in idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(3).collect()
    ]
    panels = [(0, [t1, t2]), (1, [t3]), (2, [t2, t3])]
    for mode in ("OR", "AND"):
        batch = idx.collapse_topk_batch(panels, field="topic", k=5, mode=mode).collect()
        by_qid: dict[int, list] = {}
        for r in batch:
            by_qid.setdefault(r["query_id"], []).append(
                (r["topic"], r["doc_id"], r["score_q"], r["score"])
            )
        for qid, terms in panels:
            want = [
                (topic, d, s, s / QUANT)
                for topic, d, s in _py_collapse(py_stats, terms, 5, mode)
            ]
            assert by_qid.get(qid, []) == want, f"collapse panel {qid} ({mode}) diverged"
            single = [
                (r["topic"], r["doc_id"], r["score_q"], r["score"])
                for r in idx.collapse_topk(terms, field="topic", k=5, mode=mode).collect()
            ]
            assert single == want, f"collapse_topk({terms}, {mode}) diverged"
        assert by_qid  # hot terms must match something


def test_collapse_topk_batch_guards(idx):
    with pytest.raises(ValueError, match="duplicate"):
        idx.collapse_topk_batch([(0, ["a"]), (0, ["b"])])
    with pytest.raises(ValueError, match="at least one term"):
        idx.collapse_topk_batch([(0, ["arg_cfg"]), (1, [])])
    with pytest.raises(ValueError, match="unknown mode"):
        idx.collapse_topk_batch([(0, ["arg_cfg"])], mode="NOR")
    with pytest.raises(ValueError, match="k must be >= 1"):
        idx.collapse_topk_batch([(0, ["arg_cfg"])], k=0)


def test_facet_histogram_batch_equals_per_call(idx):
    """facet_histogram_batch == a loop of single facet_histogram calls
    (which delegate to the batch with one panel — the equivalence is
    still asserted against independently-collected outputs)."""
    t1, t2 = [
        r["term"]
        for r in idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    ]
    edges = (0.0, 50.0, 100.0, 200.0, 100000.0)
    panels = [(0, [t1]), (1, [t1, t2]), (2, ["zz_missing"])]
    batch = idx.facet_histogram_batch(panels, "doc_len", edges).collect()
    by_qid: dict[int, list] = {}
    for r in batch:
        by_qid.setdefault(r["query_id"], []).append(
            (r["bucket_start"], r["bucket_end"], r["n_docs"])
        )
    for qid, terms in panels:
        want = [
            (r["bucket_start"], r["bucket_end"], r["n_docs"])
            for r in idx.facet_histogram(terms, "doc_len", edges).collect()
        ]
        assert by_qid.get(qid, []) == want, f"histogram panel {qid} diverged"
    assert by_qid[1] and 2 not in by_qid  # no-match panel yields no rows


def test_facet_stats_batch_equals_per_call(idx):
    """facet_stats_batch == a loop of single facet_stats calls; stats
    over an integer-valued column are exact (sum/avg derived from
    integer doc_lens), so strict equality is the right check."""
    t1, t2 = [
        r["term"]
        for r in idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    ]
    panels = [(0, [t1]), (1, [t1, t2]), (2, ["zz_missing"])]
    batch = {r["query_id"]: r for r in idx.facet_stats_batch(panels).collect()}
    for qid, terms in panels:
        single = idx.facet_stats(terms).collect()
        if qid in batch:
            (s,) = single
            b = batch[qid]
            cols = ("n_docs", "min_v", "max_v", "sum_v", "avg_v", "median_v")
            assert tuple(s[c] for c in cols) == tuple(b[c] for c in cols), (
                f"stats panel {qid} diverged"
            )
        else:
            assert single == []
    assert 1 in batch and 2 not in batch
    # sanity against docmeta directly: one-term panel's stats over
    # doc_len match a hand aggregation of the matching docs
    match_docs = {
        r["doc_id"] for r in idx.decoded([t1]).select("doc_id").distinct().collect()
    }
    lens = [
        r["doc_len"]
        for r in idx.docmeta.filter(F.col("doc_id").isin(match_docs)).collect()
    ]
    b = batch[0]
    assert b["n_docs"] == len(lens) and b["min_v"] == min(lens)
    assert b["max_v"] == max(lens) and b["sum_v"] == sum(lens)
    import statistics

    assert b["median_v"] == statistics.median(lens)


def test_significant_terms_matches_hand_computation(idx, py_stats):
    """significant_terms == the lift ranking re-derived from the pure-
    Python corpus stats: fg_df over match docs, bg_df global,
    lift = (fg_df*N)/(bg_df*m), query terms excluded, fg_df >= 2."""
    tfs, _, dfc, _ = py_stats
    n = len(tfs)
    terms = ["arg_ctx77", "arg_cfg"]
    match = {d for d, c in tfs.items() if any(t in c for t in terms)}
    m = len(match)
    fg = Counter(t for d in match for t in tfs[d])
    want = sorted(
        (
            (t, fg[t], dfc[t], (fg[t] * n) / (dfc[t] * m))
            for t in fg
            if fg[t] >= 2 and t not in terms
        ),
        key=lambda r: (-r[3], -r[1], r[0]),
    )[:10]
    got = [
        (r["term"], r["fg_df"], r["bg_df"], r["lift"])
        for r in idx.significant_terms(terms, n=10).collect()
    ]
    assert got == want
    with pytest.raises(ValueError, match="at least one term"):
        idx.significant_terms([])
    with pytest.raises(ValueError, match="n must be"):
        idx.significant_terms(terms, n=0)


def test_function_score_matches_hand_computation(idx):
    """function_score_topk == BM25 sums x doc_len recomputed from the
    engine's own tfidf-mode tables, ranked (score_fs desc, doc asc)."""
    terms = ["arg_ctx77", "arg_cfg"]
    base = {
        r["doc_id"]: r["score_q"]
        for r in idx.topk(terms, k=100000).collect()
    }
    lens = {
        r["doc_id"]: r["doc_len"]
        for r in idx.docmeta.filter(F.col("doc_id").isin(list(base))).collect()
    }
    want = sorted(
        ((d, s, s * lens[d]) for d, s in base.items()),
        key=lambda t: (-t[2], t[0]),
    )[:10]
    got = [
        (r["doc_id"], r["score_q"], r["score_fs"])
        for r in idx.function_score_topk(terms, k=10).orderBy("rank").collect()
    ]
    assert got == want
    with pytest.raises(ValueError, match="k must be"):
        idx.function_score_topk(terms, k=0)


def test_synonym_topk_batch_equals_per_call(idx, py_stats):
    """synonym_topk_batch == a loop of single calls per panel, with
    per-panel group statistics kept separate under the composite
    scoring key (a group shared by two panels must not pool stats)."""
    _, _, dfc, _ = py_stats
    hot = sorted(dfc, key=lambda t: (-dfc[t], t))[:3]
    panels = [
        (0, [[hot[0], hot[1]]]),
        (1, [[hot[0]], [hot[2]]]),
        (2, [["zz_never_a_term"]]),
    ]
    batch: dict[int, list] = {}
    for r in idx.synonym_topk_batch(panels, k=6).collect():
        batch.setdefault(r["query_id"], []).append((r["doc_id"], r["score_q"]))
    for qid, groups in panels:
        want = [
            (r["doc_id"], r["score_q"])
            for r in idx.synonym_topk(groups, 6).collect()
        ]
        assert batch.get(qid, []) == want, f"synonym panel {qid} diverged"
    assert batch[0] and 2 not in batch
    with pytest.raises(ValueError, match="more than one group"):
        idx.synonym_topk_batch([(0, [[hot[0]], [hot[0]]])])
    with pytest.raises(ValueError, match="duplicate"):
        idx.synonym_topk_batch([(0, [[hot[0]]]), (0, [[hot[1]]])])


def test_simple_query_string_routes_each_production(idx, py_stats):
    """The mini query language is pure routing over existing
    primitives: plain terms == search(), -tok == Query.exclude,
    wild* == wildcard_topk, a lone quoted phrase == search_phrase,
    and ambiguous mixes raise."""
    from wikitfidf_spark.index.query import Query

    _, _, dfc, _ = py_stats
    hot = sorted(dfc, key=lambda t: (-dfc[t], t))[:3]
    key = lambda rows: [(r["doc_id"], r["score_q"]) for r in sorted(rows, key=lambda x: x["rank"])]
    # plain terms == search()
    got = idx.simple_query_string(f"{hot[0]} {hot[1]}", k=8).collect()
    want = idx.search(f"{hot[0]} {hot[1]}", k=8).collect()
    assert key(got) == key(want)
    # -exclusion == Query.exclude (exclusion token analyzed too)
    got = idx.simple_query_string(f"{hot[0]} -{hot[1]}", k=8).collect()
    want = idx.topk_batch(
        [Query(0, [hot[0]], "OR", 8, exclude=(hot[1],))]
    ).collect()
    assert key(got) == key(want)
    # wildcard == wildcard_topk (same expansion cap and scorer)
    pat = hot[0][:3] + "*"
    got = idx.simple_query_string(pat, k=8).collect()
    want = idx.wildcard_topk(pat, k=8).collect()
    assert key(got) == key(want)
    # scored+excluded overlap raises loudly instead of guessing
    with pytest.raises(ValueError, match="scored and excluded"):
        idx.simple_query_string(f"{hot[0]} -{hot[0]}")
    # phrase mixing rejected; nothing-analyzable -> empty
    with pytest.raises(ValueError, match="ONE quoted phrase"):
        idx.simple_query_string(f'"{hot[0]} {hot[1]}" {hot[2]}')
    assert idx.simple_query_string("of at", k=5).count() == 0


def test_bucket_top_hits_n1_equals_collapse(idx):
    """bucket_top_hits with n=1 is exactly collapse_topk: same
    buckets, same representatives, same (score desc, doc asc) bucket
    order — the generalization must degenerate cleanly."""
    terms = ["arg_ctx77", "arg_cfg"]
    col = [
        (r["topic"], r["doc_id"], r["score_q"])
        for r in idx.collapse_topk(terms, field="topic", k=5).collect()
    ]
    bt = [
        (r["topic"], r["doc_id"], r["score_q"])
        for r in idx.bucket_top_hits(terms, field="topic", n=1, k=5)
        .orderBy("bucket_rank").collect()
    ]
    assert bt == col and len(bt) > 0
    # n=3: hits within a bucket are (score desc, doc asc) and start at 1
    multi = idx.bucket_top_hits(terms, field="topic", n=3, k=5).collect()
    by_bucket: dict[str, list] = {}
    for r in sorted(multi, key=lambda r: (r["bucket_rank"], r["hit_rank"])):
        by_bucket.setdefault(r["topic"], []).append((r["hit_rank"], r["score_q"], r["doc_id"]))
    for topic, rows in by_bucket.items():
        assert [h for h, _, _ in rows] == list(range(1, len(rows) + 1))
        assert rows == sorted(rows, key=lambda t: (t[0],)), topic
        scores = [(-s, d) for _, s, d in rows]
        assert scores == sorted(scores), topic
    with pytest.raises(ValueError, match="n and k"):
        idx.bucket_top_hits(terms, n=0)


def test_rank_eval_matches_hand_computation(idx, py_stats):
    """rank_eval == metrics re-derived from the served ranking and the
    labels: P@k = hits/k, R@k = hits/n_rel, RR = 1/first-relevant-rank
    (0 when nothing relevant is retrieved); unlabeled queries yield no
    row."""
    from wikitfidf_spark.index.query import Query

    tfs, _, dfc, _ = py_stats
    terms = ["arg_ctx77", "arg_cfg"]
    ranked = [
        (r["doc_id"], r["rank"])
        for r in idx.topk(terms, k=10).orderBy("rank").collect()
    ]
    rel = sorted(d for d, c in tfs.items() if all(t in c for t in terms))
    assert rel, "fixture must have AND-matching docs"
    qrels = idx.spark.createDataFrame(
        [(0, d) for d in rel] + [(1, rel[0])], "query_id int, doc_id long"
    )
    out = {
        r["query_id"]: r
        for r in idx.rank_eval(
            [
                Query(0, terms, "OR", 10),
                Query(1, ["zz_never_a_term"], "OR", 10),  # nothing retrieved
                Query(2, terms, "OR", 10),                # unlabeled
            ],
            qrels,
        ).collect()
    }
    hit_ranks = [rk for d, rk in ranked if d in set(rel)]
    r0 = out[0]
    assert r0["n_rel"] == len(rel) and r0["hits_at_k"] == len(hit_ranks)
    assert r0["precision_at_k"] == len(hit_ranks) / 10
    assert r0["recall_at_k"] == len(hit_ranks) / len(rel)
    assert r0["reciprocal_rank"] == 1.0 / min(hit_ranks)
    r1 = out[1]  # labeled but nothing retrieved
    assert (r1["hits_at_k"], r1["precision_at_k"], r1["reciprocal_rank"]) == (0, 0.0, 0.0)
    assert 2 not in out  # unlabeled -> ungraded


def test_significant_terms_batch_equals_per_call(idx):
    """significant_terms_batch == a loop of single calls per panel
    (the single delegates to the batch with one panel; the equivalence
    is asserted against independently-collected outputs, including a
    panel whose query-term exclusion differs)."""
    t1, t2 = [
        r["term"]
        for r in idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    ]
    panels = [(0, [t1]), (1, [t1, t2]), (2, ["zz_missing"])]
    batch: dict[int, list] = {}
    for r in idx.significant_terms_batch(panels, n=8).collect():
        batch.setdefault(r["query_id"], []).append(
            (r["term"], r["fg_df"], r["bg_df"], r["lift"])
        )
    for qid, terms in panels:
        want = [
            (r["term"], r["fg_df"], r["bg_df"], r["lift"])
            for r in idx.significant_terms(terms, n=8).collect()
        ]
        assert batch.get(qid, []) == want, f"significant panel {qid} diverged"
    assert batch[0] and 2 not in batch


@pytest.mark.parametrize("mode", ["OR", "AND"])
def test_function_score_batch_equals_per_call(idx, mode):
    t1, t2 = [
        r["term"]
        for r in idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    ]
    panels = [(0, [t1]), (1, [t1, t2]), (2, ["zz_missing"])]
    batch: dict[int, list] = {}
    for r in idx.function_score_topk_batch(panels, k=7, mode=mode).collect():
        batch.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score_q"], r["score_fs"])
        )
    for qid, terms in panels:
        want = [
            (r["rank"], r["doc_id"], r["score_q"], r["score_fs"])
            for r in idx.function_score_topk(terms, k=7, mode=mode).orderBy("rank").collect()
        ]
        assert batch.get(qid, []) == want, f"function-score panel {qid} diverged"
    assert batch[0] and 2 not in batch


def test_facet_stats_batch_guards(idx):
    with pytest.raises(ValueError, match="duplicate"):
        idx.facet_stats_batch([(0, ["a"]), (0, ["b"])])
    with pytest.raises(ValueError, match="at least one term"):
        idx.facet_stats_batch([(0, [])])


def test_facet_histogram_batch_guards(idx):
    with pytest.raises(ValueError, match="duplicate"):
        idx.facet_histogram_batch([(0, ["a"]), (0, ["b"])])
    with pytest.raises(ValueError, match="at least one term"):
        idx.facet_histogram_batch([(0, [])])
    with pytest.raises(ValueError, match="finite"):
        idx.facet_histogram_batch([(0, ["arg_cfg"])], edges=(10.0, 10.0))


def test_search_and_msm_still_validates(idx):
    """An invalid AND+min_should_match combination must surface the
    engine's ValueError, not be masked as an empty result by the
    OR-only unsatisfiable shortcut."""
    with pytest.raises(ValueError, match="min_should_match applies to OR"):
        idx.search("buf_pack64 ptr_set_util29", mode="AND", min_should_match=5)


# ------------------------------------------- batch plans: size-independent


def _page_templates(idx):
    """Single-query shapes mixing k, offset, search_after, exclude,
    exclude_docs, AND, min_should_match and boosts over the index's
    hottest terms (plus one term the index lacks)."""
    from wikitfidf_spark.index.query import Query

    t = [r["term"] for r in
         idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(40).collect()]
    page1 = sorted(idx.topk_batch([Query(0, [t[2], t[6]], k=3)]).collect(),
                   key=lambda r: r["rank"])
    top = sorted(idx.topk_batch([Query(0, [t[4], t[7]], k=4)]).collect(),
                 key=lambda r: r["rank"])
    return [
        dict(terms=[t[0], t[1]], k=5),
        dict(terms=[t[2]], k=1),
        dict(terms=[t[0], t[3]], mode="AND", k=4),
        dict(terms=[t[1], t[4], t[5]], k=3, offset=2),
        dict(terms=[t[0]], k=7, offset=5),
        dict(terms=[t[2], t[6]], k=3,
             search_after=(page1[-1]["score_q"], page1[-1]["doc_id"])),
        dict(terms=[t[0], t[1]], k=6, exclude=(t[30],)),
        dict(terms=[t[4], t[7]], k=5,
             exclude_docs=(top[0]["doc_id"], top[2]["doc_id"])),
        dict(terms=[t[5], t[8]], k=4, offset=1, exclude=(t[39],),
             exclude_docs=(top[1]["doc_id"],)),
        dict(terms=[t[1], t[2], t[9]], k=5, min_should_match=2),
        dict(terms=[t[3], t[6]], k=4, boosts=(2, 1)),
        dict(terms=[t[7], t[8]], mode="AND", k=2, offset=1),
        dict(terms=["zz_never_a_term"], k=3),
    ]


def _rows_by_qid(rows):
    out: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score_q"], r["rank"])
        )
    return out


@serving_kernels
@pytest.mark.parametrize("n_queries", [2003, 13])
def test_topk_batch_any_size_equals_one_at_a_time(idx, kernel, n_queries):
    """Per-query k and offset ride the kernel's output rows, for any
    batch size: a batch above the size where the global merge once
    switched from plan literals to a broadcast join (2000 queries) and
    one below it each return, per query, exactly the rows of the same
    query run alone.  Query ids are scattered (negative, non-contiguous)
    so the per-row k/offset lookup is exercised."""
    from wikitfidf_spark.index.query import Query

    tpl = _page_templates(idx)
    alone = [_rows_by_qid(idx.topk_batch([Query(0, **t)]).collect()).get(0, []) for t in tpl]
    assert all(alone[:-1]) and not alone[-1]
    qids = [3 * i - 3000 for i in range(n_queries)]
    got = _rows_by_qid(idx.topk_batch(
        [Query(q, **tpl[i % len(tpl)]) for i, q in enumerate(qids)]
    ).collect())
    for i, q in enumerate(qids):
        assert got.get(q, []) == alone[i % len(tpl)], (q, tpl[i % len(tpl)])


@pytest.mark.parametrize("n_sources", [2003, 7])
def test_more_like_this_batch_src_label_any_size(idx, n_sources):
    """src_doc_id is each query's own source for any batch size, and
    every query's rows equal the single more_like_this call."""
    ids = [r["doc_id"] for r in
           idx.docmeta.select("doc_id").orderBy("doc_id").limit(5).collect()]
    srcs = [ids[(i * 3) % len(ids)] for i in range(n_sources)]
    alone = {
        d: [(r["doc_id"], r["score_q"], r["rank"]) for r in sorted(
            idx.more_like_this(d, m=6, k=4).collect(),
            key=lambda r: r["rank"])]
        for d in ids
    }
    batch = idx.more_like_this_batch(srcs, m=6, k=4).collect()
    assert all(r["src_doc_id"] == srcs[r["query_id"]] for r in batch)
    got = _rows_by_qid(batch)
    for qid, d in enumerate(srcs):
        assert got.get(qid, []) == alone[d], (qid, d)
    assert all(alone.values())


@contextmanager
def _py4j_calls(spark):
    """Count the driver's Py4J commands inside the block, leaving out
    the memory commands Python's garbage collector sends on its own
    schedule to release JVM objects."""
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counted(cmd, *a, **kw):
        n[0] += not cmd.startswith("m\n")
        return send(cmd, *a, **kw)

    client.send_command = counted
    try:
        yield n
    finally:
        vars(client).pop("send_command", None)


def test_batch_plan_py4j_calls_do_not_grow_with_batch(spark, idx):
    """Building a topk_batch plan costs the same number of Py4J calls
    for 10 queries over 20 terms as for 3000 queries over 400 terms —
    the term filter, k and offset never become per-value plan calls."""
    from wikitfidf_spark.index.query import Query

    terms = [r["term"] for r in idx.dictionary.orderBy("term").limit(400).collect()]

    def batch(n):
        return [
            Query(i, [terms[i % 400], terms[(7 * i + 1) % 400]], k=1 + i % 5,
                  offset=i % 3)
            for i in range(n)
        ]

    idx.topk_batch(batch(10))  # first use resolves JVM classes
    calls = {}
    for n in (10, 3000):
        with _py4j_calls(spark) as c:
            idx.topk_batch(batch(n))
        calls[n] = c[0]
    assert calls[3000] == calls[10], calls


def test_simple_query_string_leading_apostrophe(idx):
    """A token that starts with an apostrophe ('tis, '90s) is an
    ordinary word, not an unterminated quote; an unterminated double
    quote fails with a clear message."""
    from wikitfidf_spark.index.query import Query

    got = idx.simple_query_string("'arg_cfg arg_ctx", k=5).collect()
    want = idx.search("'arg_cfg arg_ctx", k=5).collect()
    key = lambda rows: sorted((r["rank"], r["doc_id"], r["score_q"]) for r in rows)
    assert key(got) == key(want) and got
    idx.simple_query_string("'tis '90s", k=5).collect()  # no parser crash
    got = idx.simple_query_string("arg_cfg -'arg_ctx", k=5).collect()
    want = idx.topk_batch([Query(0, ["arg_cfg"], "OR", 5, exclude=("arg_ctx",))]).collect()
    assert key(got) == key(want)
    with pytest.raises(ValueError, match="unterminated quoted phrase"):
        idx.simple_query_string('"arg_cfg arg_ctx')


def test_function_score_rejects_non_integral_factor(idx):
    """A fractional or non-numeric factor column raises instead of
    being silently truncated by a cast to long."""
    orig = idx.docmeta
    try:
        idx.docmeta = orig.withColumn("half_len", F.col("doc_len") * 0.5)
        with pytest.raises(ValueError, match="integral"):
            idx.function_score_topk(["arg_cfg"], factor="half_len")
        with pytest.raises(ValueError, match="integral"):
            idx.function_score_topk_batch([(0, ["arg_cfg"])], factor="topic")
        with pytest.raises(ValueError, match="integral"):
            idx.function_score_topk(["arg_cfg"], factor="no_such_column")
    finally:
        idx.docmeta = orig


def test_facet_stats_no_match_panel_emits_no_row(idx):
    """A panel whose terms match nothing yields no row in
    facet_stats_batch, and the other panels equal facet_stats per
    panel.  The DuckDB oracle for ``index_facet_stats`` agrees: with an
    empty match set its aggregate emits no row either."""
    import duckdb

    import __spark_entry__ as entry

    (t1,) = [
        r["term"]
        for r in idx.dictionary.orderBy(F.desc("df"), F.asc("term")).limit(1).collect()
    ]
    panels = [(0, [t1]), (1, ["zz_no_such_term"]), (2, [t1, "zz_no_such_term"])]
    batch = {r["query_id"]: r for r in idx.facet_stats_batch(panels).collect()}
    assert sorted(batch) == [0, 2]
    cols = ("n_docs", "min_v", "max_v", "sum_v", "avg_v", "median_v")
    for qid in (0, 2):
        (single,) = idx.facet_stats(dict(panels)[qid]).collect()
        assert tuple(single[c] for c in cols) == tuple(batch[qid][c] for c in cols)

    sql = entry._all_oracle_sql()["index_facet_stats"]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.execute("INSERT INTO documents VALUES (1, 'nothing queried lives here')")
        assert con.execute(sql).fetchall() == []
        con.execute(f"INSERT INTO documents VALUES (2, '{entry.BM25_OR_TERMS[0]} words')")
        assert len(con.execute(sql).fetchall()) == 1
    finally:
        con.close()


def test_malformed_requests_fail_loudly(idx):
    """Malformed batch requests raise naming the field instead of being
    cast or iterated silently: a bare string as ``terms``, non-integral
    ``k``/``offset``/``min_should_match``, non-string terms, non-integer
    query ids, ``n=0`` on the prefix and suggest families, unknown
    docmeta columns and malformed predicates."""
    from wikitfidf_spark.index.query import PhraseQuery, Query

    with pytest.raises(TypeError, match="terms"):
        idx.topk_batch([Query(0, "arg_cfg")])
    with pytest.raises(TypeError, match="terms"):
        idx.topk_batch([Query(0, ["arg_cfg", 7])])
    with pytest.raises(TypeError, match="exclude"):
        idx.topk_batch([Query(0, ["arg_cfg"], exclude=(None,))])
    with pytest.raises(TypeError, match="terms"):
        idx.phrase_topk_batch([PhraseQuery(0, "arg_cfg arg_ctx")])
    for field, kw in (
        ("k", {"k": 2.5}),
        ("offset", {"offset": 1.5}),
        ("min_should_match", {"min_should_match": 1.5}),
    ):
        with pytest.raises(ValueError, match=field):
            idx.topk_batch([Query(0, ["arg_cfg", "arg_ctx"], **kw)])
    with pytest.raises(ValueError, match="k"):
        idx.phrase_topk_batch([PhraseQuery(0, ["arg_cfg", "arg_ctx"], k=2.5)])
    with pytest.raises(TypeError, match="query_id"):
        idx.topk_batch([Query("a", ["arg_cfg"]), Query(1, ["arg_ctx"])])
    with pytest.raises(TypeError, match="query_id"):
        idx.facet_counts_batch([(0.5, ["arg_cfg"])])
    with pytest.raises(TypeError, match="query_id"):
        idx.suggest_batch([("x", "arg_cfg")])
    # a bare string as a panel's terms (or as a synonym panel's groups,
    # or as one group) would be iterated as characters
    for field, call in (
        ("terms", lambda: idx.facet_counts_batch([(0, "arg_cfg")])),
        ("terms", lambda: idx.facet_histogram_batch([(0, "arg_cfg")], col="doc_len")),
        ("terms", lambda: idx.facet_stats_batch([(0, "arg_cfg")], col="doc_len")),
        ("terms", lambda: idx.collapse_topk_batch([(0, "arg_cfg")])),
        ("terms", lambda: idx.function_score_topk_batch([(0, "arg_cfg")])),
        ("terms", lambda: idx.bucket_top_hits_batch([(0, "arg_cfg")])),
        ("terms", lambda: idx.significant_terms_batch([(0, "arg_cfg")])),
        ("terms", lambda: idx.facet_counts_batch([(0, ["arg_cfg", 7])])),
        ("groups", lambda: idx.synonym_topk_batch([(0, "arg_cfg")])),
        ("groups", lambda: idx.synonym_topk_batch([(0, ["arg_cfg", "arg_ctx"])])),
        ("groups", lambda: idx.synonym_topk_batch([(0, [["arg_cfg"], "arg_ctx"])])),
    ):
        with pytest.raises(TypeError, match=field):
            call()
    from wikitfidf_spark.index.suggest import suggest_indexed, suggest_indexed_batch

    for call in (
        lambda: idx.suggest_batch([(0, "arg_cfg")], n=0),
        lambda: idx.suggest("arg_cfg", n=0),
        lambda: idx.prefix_terms_batch([(0, "arg")], n=0),
        lambda: idx.prefix_terms("arg", n=0),
        lambda: suggest_indexed(idx.spark, idx.index_dir, "arg_cfg", n=0),
        lambda: suggest_indexed_batch(idx.spark, idx.index_dir, [(0, "arg_cfg")], n=0),
    ):
        with pytest.raises(ValueError, match="n must be >= 1"):
            call()
    # unknown docmeta columns name the argument they came from
    for arg, call in (
        ("facet", lambda: idx.facet_counts_batch([(0, ["arg_cfg"])], facet="nope")),
        ("facet", lambda: idx.facet_counts(["arg_cfg"], facet="nope")),
        ("col", lambda: idx.facet_histogram_batch([(0, ["arg_cfg"])], col="nope")),
        ("col", lambda: idx.facet_stats(["arg_cfg"], col="nope")),
        ("field", lambda: idx.collapse_topk(["arg_cfg"], field="nope")),
        ("field", lambda: idx.bucket_top_hits_batch([(0, ["arg_cfg"])], field="nope")),
    ):
        with pytest.raises(ValueError, match=f"{arg}='nope' is not a docmeta column"):
            call()
    # a predicate that does not parse or resolve raises naming it
    some_doc = idx.docmeta.select("doc_id").first()["doc_id"]
    for pred in ("topic = = 'go'", "no_such_col = 1", "doc_len + 1"):
        for call in (
            lambda: idx.topk_batch([Query(0, ["arg_cfg"])], predicate=pred),
            lambda: idx.snippets_batch(idx.docmeta, [Query(0, ["arg_cfg"])], predicate=pred),
            lambda: idx.more_like_this_batch([some_doc], predicate=pred),
        ):
            with pytest.raises(ValueError, match="predicate"):
                call()
    # integral numpy ids and k still serve; the unfiltered kernel's
    # applyInPandas callback raises no eval-type inference warning
    import warnings

    import numpy as _np

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ok = idx.topk_batch([Query(_np.int64(3), ["arg_cfg"], "OR", _np.int32(2))]).collect()
    assert not [w for w in caught if "infer the eval type" in str(w.message)], caught
    assert {r["query_id"] for r in ok} == {3} and len(ok) == 2

"""Positional postings + phrase top-k: vectorized adjacency kernel unit
tests and engine end-to-end against a Python brute-force oracle."""

from __future__ import annotations

import collections
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikitfidf_spark.corpus import make_code_files
from wikitfidf_spark.index.build import IndexConfig, build_index, load_manifest
from wikitfidf_spark.index.positions import build_positions, verify_phrase_docs
from wikitfidf_spark.index.query import InvertedIndex, Query
from wikitfidf_spark.tokenize import tokenize_py

CFG = IndexConfig(n_shards=4, n_salts=2, block_size=32)


# ---------- kernel unit tests ----------

def _pdf(rows):
    return pd.DataFrame(rows, columns=["term", "doc_id", "poss"])


def test_verify_adjacent_pair():
    got = verify_phrase_docs(
        _pdf([("a", 1, [0, 5]), ("b", 1, [1]), ("a", 2, [3]), ("b", 2, [5])]),
        ["a", "b"],
    )
    assert got.tolist() == [1]  # doc 2: positions 3,5 not adjacent


def test_verify_three_term_chain_and_repeats():
    # doc 7 holds "a a b" at positions 10,11,12; doc 8 holds "b a" at
    # 2,3 (has both terms but never "a a b")
    rows = [
        ("a", 7, [2, 10, 11]), ("b", 7, [12]),
        ("a", 8, [3]), ("b", 8, [2]),
    ]
    assert verify_phrase_docs(_pdf(rows), ["a", "a", "b"]).tolist() == [7]
    assert verify_phrase_docs(_pdf(rows), ["b", "a"]).tolist() == [8]
    assert verify_phrase_docs(_pdf(rows), ["a", "b"]).tolist() == [7]


def test_verify_slop_windows():
    # "a ? b": a@0, b@2 — matches at slop>=1, not at slop=0
    rows = [("a", 1, [0]), ("b", 1, [2]), ("a", 2, [0]), ("b", 2, [1])]
    assert verify_phrase_docs(_pdf(rows), ["a", "b"], slop=0).tolist() == [2]
    assert sorted(verify_phrase_docs(_pdf(rows), ["a", "b"], slop=1).tolist()) == [1, 2]
    # order still matters under slop: b before a never matches "a b"
    rows2 = [("a", 3, [5]), ("b", 3, [3])]
    assert len(verify_phrase_docs(_pdf(rows2), ["a", "b"], slop=3)) == 0


def test_phrase_slop_matches_bruteforce(spark, built):
    """Engine slop path vs a Python proximity oracle on the corpus."""
    docs, d = built
    rows = docs.withColumn("doc_id", F.xxhash64("repo", "path", "commit")).select(
        "doc_id", "content"
    ).collect()
    pair_docs = collections.Counter()
    for r in rows:
        toks = tokenize_py(r["content"])
        for a, b in set(zip(toks, toks[2:])):  # gap-1 pairs
            pair_docs[(a, b)] += 1
    (t1, t2), n = pair_docs.most_common(1)[0]
    assert n >= 2

    def prox_docs(slop):
        out = set()
        for r in rows:
            toks = tokenize_py(r["content"])
            p1 = [i for i, t in enumerate(toks) if t == t1]
            p2 = {i for i, t in enumerate(toks) if t == t2}
            if any(i + d in p2 for i in p1 for d in range(1, slop + 2)):
                out.add(r["doc_id"])
        return out

    idx = InvertedIndex(spark, d)
    for slop in (0, 1, 2):
        got = {r["doc_id"] for r in idx.phrase_topk([t1, t2], k=10_000, slop=slop).collect()}
        assert got == prox_docs(slop), f"slop={slop}"


def test_verify_missing_term_or_empty():
    assert len(verify_phrase_docs(_pdf([("a", 1, [0])]), ["a", "b"])) == 0
    assert len(verify_phrase_docs(_pdf([]), ["a", "b"])) == 0


def test_verify_disjoint_doc_sets_and_pruning():
    # Terms co-occur in NO document: the doc-set pre-intersection must
    # return empty without touching position lists.  And a doc present
    # in only one term's rows must not leak into the result even when
    # its positions would line up arithmetically.
    rows = [("a", 1, [0]), ("a", 2, [5]), ("b", 3, [1]), ("b", 4, [6])]
    assert len(verify_phrase_docs(_pdf(rows), ["a", "b"])) == 0
    rows2 = [("a", 1, [0]), ("a", 2, [5]), ("b", 2, [6]), ("b", 9, [1])]
    got = verify_phrase_docs(_pdf(rows2), ["a", "b"])
    assert got.tolist() == [2]


def test_verify_negative_doc_ids():
    # xxhash64 doc ids span the full signed range; the packed int64 key
    # must not corrupt them
    d = -(2**62) - 12345
    got = verify_phrase_docs(_pdf([("a", d, [3]), ("b", d, [4])]), ["a", "b"])
    assert got.tolist() == [d]


# ---------- engine end-to-end ----------

@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = make_code_files(spark, n_docs=400, seed=42).cache()
    d = str(tmp_path_factory.mktemp("idx_phrase"))
    build_index(spark, docs, d, CFG, resume=False)
    build_positions(spark, docs, d)
    return docs, d


def test_positions_write_zstd_one_shard_per_file(built, check_index_files):
    """build_positions writes zstd parquet with one shard per file, like
    every other artifact the manifest references."""
    _, d = built
    assert check_index_files(d) > 0
    assert load_manifest(d)["paths"]["positions"]


def _phrase_docs_py(rows, terms):
    """Brute-force oracle: doc_ids whose token stream contains terms
    consecutively."""
    out = set()
    for r in rows:
        toks = tokenize_py(r["content"])
        for i in range(len(toks) - len(terms) + 1):
            if toks[i:i + len(terms)] == terms:
                out.add(r["doc_id"])
                break
    return out


def test_phrase_topk_matches_bruteforce(spark, built):
    docs, d = built
    rows = docs.withColumn("doc_id", F.xxhash64("repo", "path", "commit")).select(
        "doc_id", "content"
    ).collect()
    # pick a phrase that actually occurs in >= 2 docs: the most common
    # adjacent pair in the corpus
    pair_docs = collections.Counter()
    for r in rows:
        toks = tokenize_py(r["content"])
        for a, b in set(zip(toks, toks[1:])):
            pair_docs[(a, b)] += 1
    (t1, t2), n_docs_expected = pair_docs.most_common(1)[0]
    assert n_docs_expected >= 2

    idx = InvertedIndex(spark, d)
    got = idx.phrase_topk([t1, t2], k=10_000).collect()
    expected = _phrase_docs_py(rows, [t1, t2])
    assert {r["doc_id"] for r in got} == expected
    # scores equal the AND query's BM25 sums for the same docs
    and_scores = {
        r["doc_id"]: r["score_q"]
        for r in idx.topk_batch([Query(0, [t1, t2], "AND", 10_000)]).collect()
    }
    for r in got:
        assert r["score_q"] == and_scores[r["doc_id"]]
    # ranked (score desc, doc asc)
    seq = [(-r["score_q"], r["doc_id"]) for r in sorted(got, key=lambda x: x["rank"])]
    assert seq == sorted(seq)


def test_phrase_topk_no_match_and_guards(spark, built):
    _, d = built
    idx = InvertedIndex(spark, d)
    assert idx.phrase_topk(["zz_nonexistent_a", "zz_nonexistent_b"], k=5).count() == 0
    with pytest.raises(ValueError, match="at least 2"):
        idx.phrase_topk(["solo"], k=5)


def test_phrase_positions_staleness_guard(spark, built, tmp_path):
    """The index's own ops maintain positions, so staleness can only
    come from an out-of-band writer (or a pre-owner-map artifact) —
    simulate one by bumping the manifest version; phrase queries must
    refuse until positions are rebuilt."""
    import shutil

    from wikitfidf_spark.index.build import _save_manifest

    _, d = built
    d2 = str(tmp_path / "idx_phrase_stale")
    shutil.copytree(d, d2)
    m = load_manifest(d2)
    m["version"] = int(m.get("version", 0)) + 1
    _save_manifest(d2, m)
    idx = InvertedIndex(spark, d2)
    with pytest.raises(ValueError, match="stale"):
        idx.phrase_topk(["part", "filter"], k=5)


def _merged_rows(docs):
    return docs.withColumn(
        "doc_id", F.xxhash64("repo", "path", "commit")
    ).select("doc_id", "content").collect()


def _best_pair(rows):
    """Most common adjacent token pair over ``rows`` (collected docs)."""
    pair_docs = collections.Counter()
    for r in rows:
        toks = tokenize_py(r["content"])
        for a, b in set(zip(toks, toks[1:])):
            pair_docs[(a, b)] += 1
    (t1, t2), n = pair_docs.most_common(1)[0]
    assert n >= 2
    return t1, t2


@pytest.mark.parametrize("refresh", [True, False], ids=["exact", "stale"])
def test_phrase_survives_incremental_add(spark, built, tmp_path, refresh):
    """add_documents extends positions O(delta) (a generation file for
    the delta's shards; base file untouched): phrase results over the
    merged corpus match brute force with NO positions rebuild — in
    both exact and bounded-staleness ingest modes."""
    import shutil

    from wikitfidf_spark.index.build import add_documents, index_paths

    docs, d = built
    d2 = str(tmp_path / "idx_phrase_add")
    shutil.copytree(d, d2)
    extra = make_code_files(spark, n_docs=30, seed=77)
    add_documents(spark, extra, d2, refresh_scores=refresh)

    m = load_manifest(d2)
    assert int(m["positions_version"]) == int(m["version"])
    owned = index_paths(m)["positions"]
    assert isinstance(owned, dict)
    assert len(set(owned.values())) == 2  # base + one delta generation

    # phrase chosen as the extra docs' most common pair, so the delta
    # actually participates; the oracle runs over the merged corpus
    extra_rows = _merged_rows(extra)
    t1, t2 = _best_pair(extra_rows)
    all_rows = _merged_rows(docs) + extra_rows
    expected = _phrase_docs_py(all_rows, [t1, t2])
    assert expected & {r["doc_id"] for r in extra_rows}  # delta matters
    idx = InvertedIndex(spark, d2)
    got = {r["doc_id"] for r in idx.phrase_topk([t1, t2], k=10_000).collect()}
    assert got == expected


def test_phrase_survives_delete(spark, built, tmp_path):
    """delete_documents leaves positions untouched; the tombstoned
    doc's rows are masked by the live postings and never surface."""
    import shutil

    from wikitfidf_spark.index.build import delete_documents

    docs, d = built
    d2 = str(tmp_path / "idx_phrase_del")
    shutil.copytree(d, d2)
    rows = _merged_rows(docs)
    t1, t2 = _best_pair(rows)
    expected = _phrase_docs_py(rows, [t1, t2])
    victim = min(expected)
    delete_documents(spark, [victim], d2)

    m = load_manifest(d2)
    assert int(m["positions_version"]) == int(m["version"])
    idx = InvertedIndex(spark, d2)
    got = {r["doc_id"] for r in idx.phrase_topk([t1, t2], k=10_000).collect()}
    assert got == expected - {victim}


def test_phrase_survives_compact(spark, built, tmp_path):
    """compact() carries positions through by shard-remap (no
    re-tokenize): after add + delete + compact the owner map collapses
    to one canonical-placement file, tombstoned docs' position rows
    are physically gone, and phrase results match brute force over the
    live corpus."""
    import os
    import shutil

    from wikitfidf_spark.index.build import (
        add_documents, compact, delete_documents, index_paths,
    )
    from wikitfidf_spark.index.positions import read_positions

    docs, d = built
    d2 = str(tmp_path / "idx_phrase_compact")
    shutil.copytree(d, d2)
    extra = make_code_files(spark, n_docs=30, seed=77)
    add_documents(spark, extra, d2)
    rows = _merged_rows(docs) + _merged_rows(extra)
    t1, t2 = _best_pair(rows)
    expected = _phrase_docs_py(rows, [t1, t2])
    victim = min(expected)
    delete_documents(spark, [victim], d2)
    compact(spark, d2)

    m = load_manifest(d2)
    assert int(m["positions_version"]) == int(m["version"])
    owned = index_paths(m)["positions"]
    assert len(set(owned.values())) == 1  # folded back to one file
    assert sorted(int(s) for s in owned) == list(range(CFG.n_shards))
    pos = read_positions(spark, d2, owned)
    assert pos.filter(F.col("doc_id") == victim).count() == 0  # physically dropped
    idx = InvertedIndex(spark, d2)
    got = {r["doc_id"] for r in idx.phrase_topk([t1, t2], k=10_000).collect()}
    assert got == expected - {victim}


def test_positions_lengths_match_tf(spark, built):
    """len(poss) == tf per (doc, term) — positions and tf come from the
    same token stream."""
    from wikitfidf_spark.index.build import index_paths
    from wikitfidf_spark.index.positions import read_positions
    import os

    _, d = built
    m = load_manifest(d)
    pos = read_positions(spark, d, index_paths(m)["positions"])
    tf = spark.read.parquet(os.path.join(d, index_paths(m)["tf"][0]))
    joined = (
        pos.select("doc_id", "term", F.size("poss").alias("np"))
        .join(tf, ["doc_id", "term"], "full")
        .filter((F.col("np") != F.col("tf")) | F.col("np").isNull() | F.col("tf").isNull())
    )
    assert joined.count() == 0


def test_search_phrase_analyzes_through_config(spark, tmp_path):
    """Free-text phrase search normalizes the query through the
    index's own config — order-preserving WITH repeats (analyze()'s
    dedup would corrupt a phrase) — and serves via phrase_topk."""
    from wikitfidf_spark.index.build import IndexConfig, build_index
    from wikitfidf_spark.index.positions import build_positions
    from wikitfidf_spark.index.query import InvertedIndex

    docs = spark.createDataFrame(
        [
            (1, "sv", "jakten flickorna jakten stolarna"),
            (2, "sv", "flickorna jakten jakten stolarna"),
            (3, "sv", "jakten stolarna flickorna"),
        ],
        "doc_id long, lang string, content string",
    )
    d = str(tmp_path / "idx_phrase_stem")
    cfg = IndexConfig(n_shards=2, n_salts=2, id_cols=(), tokenizer="arrow",
                      stemmer="snowball_sv")
    build_index(spark, docs, d, cfg, resume=False)
    build_positions(spark, docs, d)
    idx = InvertedIndex(spark, d)
    # repeats survive analysis: 'jakten jakten' is a 2-term phrase
    assert idx.analyze_ordered("jakten jakten") == ["jakt", "jakt"]
    assert idx.analyze("jakten jakten") == ["jakt"]
    hits = {r["doc_id"] for r in idx.search_phrase("jakten jakten").collect()}
    assert hits == {2}  # only doc 2 has consecutive jakt jakt
    # surface-form multi-word phrase stems term-by-term, order kept
    hits = {r["doc_id"] for r in idx.search_phrase("flickorna jakten").collect()}
    assert hits == {1, 2}
    # simple_query_string's lone-quoted-phrase production routes here
    via_qs = {
        r["doc_id"]
        for r in idx.simple_query_string('"flickorna jakten"').collect()
    }
    assert via_qs == {1, 2}


def test_search_with_stemmer_none_config(spark, tmp_path):
    """IndexConfig(stemmer=None) — accepted by the build and positions
    paths — must round-trip through the manifest (null) into query-side
    analysis without raising (analyze_ordered once guarded only
    != 'none' and hit STEMMERS[None]; advisor finding r4)."""
    from wikitfidf_spark.index.build import IndexConfig, build_index
    from wikitfidf_spark.index.query import InvertedIndex

    docs = spark.createDataFrame(
        [(1, "en", "running shoes"), (2, "en", "walking shoes")],
        "doc_id long, lang string, content string",
    )
    d = str(tmp_path / "idx_nostem")
    cfg = IndexConfig(n_shards=2, n_salts=1, id_cols=(), stemmer=None)
    build_index(spark, docs, d, cfg, resume=False)
    idx = InvertedIndex(spark, d)
    assert idx.analyze_ordered("running shoes") == ["running", "shoes"]
    hits = {r["doc_id"] for r in idx.search("running").collect()}
    assert hits == {1}


def test_phrase_over_full_profile_index(spark, tmp_path):
    """Positions must normalize EXACTLY like the tf path: an index
    built with the full de profile (letter class + stopwords + min-len
    + stemmer) answers surface-form phrase queries; positions tokenize
    umlauts whole, drop the profile's stopwords, and record stems —
    otherwise the phrase silently misses (review finding)."""
    from wikitfidf_spark.index.build import IndexConfig, build_index
    from wikitfidf_spark.index.positions import build_positions
    from wikitfidf_spark.index.query import InvertedIndex
    from wikitfidf_spark.operators.normalize import index_knobs_for_lang

    docs = spark.createDataFrame(
        [
            # 'the' is a profile stopword: adjacency must hold ACROSS it
            (1, "de", "abhängen the bezeichnung flags"),
            (2, "de", "bezeichnung abhängen flags"),
            (3, "de", "abhängen flags bezeichnung"),
        ],
        "doc_id long, lang string, content string",
    )
    d = str(tmp_path / "idx_phrase_profile")
    build_index(
        spark, docs, d,
        IndexConfig(n_shards=2, n_salts=2, id_cols=(), **index_knobs_for_lang("de")),
        resume=False,
    )
    build_positions(spark, docs, d)
    idx = InvertedIndex(spark, d)
    # surface phrase, stopword inside: doc 1 has abhang<stop>bezeichn,
    # which IS adjacent in the post-filter stream (reference order:
    # stopwords drop before anything indexes)
    hits = {r["doc_id"] for r in idx.search_phrase("abhängen the bezeichnung").collect()}
    assert hits == {1}
    hits = {r["doc_id"] for r in idx.search_phrase("bezeichnung abhängen").collect()}
    assert hits == {2}
    # len(poss) == tf invariant holds with the stopword filter on
    from wikitfidf_spark.index.positions import read_positions
    from wikitfidf_spark.index.build import index_paths, load_manifest

    m = load_manifest(d)
    pos = read_positions(spark, d, index_paths(m)["positions"])
    assert {r["term"] for r in pos.select("term").distinct().collect()} >= {
        "abhang", "bezeichn", "flag"
    }
    assert "the" not in {r["term"] for r in pos.select("term").distinct().collect()}


def test_phrase_topk_batch_equals_per_call(spark, built):
    """phrase_topk_batch == a loop of single phrase_topk calls (same
    kernel, fixed costs paid once): every (query, doc, score, rank)
    identical, heterogeneous k/slop respected."""
    from wikitfidf_spark.index.query import InvertedIndex, PhraseQuery

    docs, d = built
    idx = InvertedIndex(spark, d)
    rows = docs.limit(3).collect()
    phrases = []
    for i, r in enumerate(rows):
        toks = tokenize_py(r["content"])
        phrases.append(PhraseQuery(i, toks[i * 3:i * 3 + 2], k=5 + i, slop=i % 2))
    batch = idx.phrase_topk_batch(phrases).collect()
    got = {(r["query_id"], r["doc_id"], r["score_q"], r["rank"]) for r in batch}
    want = set()
    for q in phrases:
        for r in idx.phrase_topk(q.terms, q.k, slop=q.slop).collect():
            want.add((q.query_id, r["doc_id"], r["score_q"], r["rank"]))
    assert got == want and got  # identical and non-empty


def test_phrase_batch_randomized_vs_python_oracle(spark, built):
    """Randomized multi-phrase batches (real in-corpus n-grams mixed
    with shuffled non-phrases, 2-4 terms, slop 0-2, repeats included)
    against a pure-Python chained-window proximity oracle — drives the
    batch cogroup kernel, the shared per-term decode memo, and the
    doc-set pre-intersection across heterogeneous phrases at once."""
    import random

    from wikitfidf_spark.index.query import InvertedIndex, PhraseQuery

    docs, d = built
    rows = docs.withColumn("doc_id", F.xxhash64("repo", "path", "commit")).select(
        "doc_id", "content"
    ).collect()
    toks_by_doc = {r["doc_id"]: tokenize_py(r["content"]) for r in rows}

    def match(toks, terms, slop):
        # the kernel's semantics: each adjacent gap in [1, slop+1]
        cur = {i for i, t in enumerate(toks) if t == terms[0]}
        for t in terms[1:]:
            nxt = {i for i, t2 in enumerate(toks) if t2 == t}
            cur = {i + g for i in cur for g in range(1, slop + 2) if i + g in nxt}
            if not cur:
                return False
        return True

    # soak knob: WTF_FUZZ_SEED=n pytest ... -k phrase_batch_randomized
    rng = random.Random(int(os.environ.get("WTF_FUZZ_SEED", "77")))
    ids = sorted(toks_by_doc)
    phrases = []
    for qid in range(10):
        toks = toks_by_doc[rng.choice(ids)]
        start = rng.randrange(max(1, len(toks) - 5))
        terms = toks[start:start + rng.randint(2, 4)]
        if len(terms) < 2:
            terms = toks[:2]
        if qid % 3 == 2:
            rng.shuffle(terms)  # likely a non-phrase — empty results OK
        phrases.append(PhraseQuery(qid, terms, k=10_000, slop=rng.choice([0, 1, 2])))

    got: dict[int, set] = {q.query_id: set() for q in phrases}
    idx = InvertedIndex(spark, d)
    for r in idx.phrase_topk_batch(phrases).collect():
        got[r["query_id"]].add(r["doc_id"])
    for q in phrases:
        want = {
            did for did, toks in toks_by_doc.items() if match(toks, q.terms, q.slop)
        }
        assert got[q.query_id] == want, (q.query_id, q.terms, q.slop)
